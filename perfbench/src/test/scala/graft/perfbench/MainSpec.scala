package graft.perfbench

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  test("json keeps map order and writes non-finite numbers as null") {
    val v = ListMap("b" -> 1.5, "a" -> Double.NaN, "c" -> Seq(1L, 2L),
      "d" -> ListMap("x" -> true, "y" -> Double.PositiveInfinity), "e" -> "q\"")
    assert(Main.json(v) == """{"b":1.5,"a":null,"c":[1,2],"d":{"x":true,"y":null},"e":"q\""}""")
  }

  test("units follow the metric name's suffix") {
    assert(Main.unitOf("Als.wall_s") == "s")
    assert(Main.unitOf("BucketStore.read_p50_ms") == "ms")
    assert(Main.unitOf("Dedup.shuffle_write_bytes") == "bytes")
    assert(Main.unitOf("Curation.util") == "ratio")
    assert(Main.unitOf("Serving.jobs") == "count")
  }
}
