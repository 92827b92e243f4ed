package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("Bench.js keeps run order past 4 entries (steal_cold, load_cold)") {
    // an immutable Map of more than 4 entries is a HashMap: converting the
    // run-order LinkedHashMap with toMap would scramble the keys
    val runOrder = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Seq("q9", "q1", "q57", "q3", "q120", "q2", "q44", "q8").zipWithIndex
      .foreach { case (n, i) => runOrder(n) = i * 1.5 }
    assert(Bench.js(runOrder) ==
      """{"q9":0.000,"q1":1.500,"q57":3.000,"q3":4.500,""" +
        """"q120":6.000,"q2":7.500,"q44":9.000,"q8":10.500}""")
  }
}
