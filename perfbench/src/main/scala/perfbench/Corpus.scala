package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Seeded clustered corpus: ScaleSmoke's generator (cluster centres from
  * `VectorOps.syntheticNoise`, each point its centre plus `sigma`-scaled
  * noise), with the workload seed mixed into every noise key so that the
  * same seed gives the same vectors and another seed gives other ones.
  * Uniform noise data is deliberately not used: it defeats IVF
  * partitioning, so no probe setting serves it well.
  */
final case class Corpus(n: Long, dim: Int, centers: Int, sigma: Float, seed: Long) {

  private def key(x: Long): Long = seed * 1000003L + x

  /** Generative centre of id (a bias of 7919 keeps point keys apart). */
  def center(id: Long): Long = id % centers + 1L

  def vector(id: Long): Array[Float] = {
    val c = key(center(id))
    val p = key(id + 7919L)
    Array.tabulate(dim)(j =>
      VectorOps.syntheticNoise(c, j) + sigma * VectorOps.syntheticNoise(p, j))
  }

  /** The generative centres, usable as IVF centroids when an index is
    * set-up rather than the subject of the measurement.
    */
  def centres: Array[Array[Float]] =
    Array.tabulate(centers)(c => Array.tabulate(dim)(j => VectorOps.syntheticNoise(key(c + 1L), j)))

  /** Ids [from, until) as a (vec_id, embedding) frame, generated on the
    * executors.
    */
  def frame(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame = {
    val self = this
    val gen = udf((id: Long) => self.vector(id).toSeq)
    spark.range(from, until, 1L, parts)
      .select(col("id").as("vec_id"), gen(col("id")).as("embedding"))
  }

  def params: Seq[(String, Any)] =
    Seq("n" -> n, "dim" -> dim, "centers" -> centers, "sigma" -> sigma.toDouble,
      "seed" -> seed, "generator" -> "ScaleSmoke clustered (syntheticNoise centres + sigma noise)")
}

/** Driver-side exact search, the oracle every recall figure and check uses. */
final class Exact(ids: Array[Long], vecs: Array[Array[Float]]) {

  /** Exact top-k ids by (distance, id), the engine's order. */
  def topK(q: Array[Float], k: Int): Array[Long] = {
    val d = new Array[Double](ids.length)
    var i = 0
    while (i < ids.length) { d(i) = VectorOps.l2sq(q, vecs(i)); i += 1 }
    ids.indices.sortBy(i => (d(i), ids(i))).take(k).map(ids(_)).toArray
  }

  /** Exact top-k of many queries, spread over the common pool. */
  def topKAll(qs: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = topK(qs(i), k))
    out
  }
}

object Stats {

  /** Nearest-rank percentile of an ascending-sorted array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 0.5)

  /** Mean share of the truth's ids that the answer holds. */
  def recall(got: Seq[Array[Long]], truth: Seq[Array[Long]]): Double = {
    require(got.size == truth.size && truth.nonEmpty, "recall needs paired answers")
    got.zip(truth).map { case (g, t) => g.toSet.intersect(t.toSet).size.toDouble / t.length }
      .sum / truth.size
  }
}

/** Minimal JSON rendering for the artifact and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) &&
        kv.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      kv.map { case (k: String, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
