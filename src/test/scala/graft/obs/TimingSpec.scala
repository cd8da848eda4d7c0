package graft.obs

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The records' JSON reads the same whatever the JVM's default locale: a
  * German default would print `1,500`, which no JSON parser reads as 1.5. */
class TimingSpec extends AnyFunSuite {

  test("the record writer prints a dot decimal and valid JSON under a comma locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Timing.num(1.5) === "1.500")
      val line = Timing.obj(
        "queries" -> Timing.nums(Seq("q\"1" -> 1.5, "q2" -> -1.0)),
        "spread" -> Timing.arr(Seq(Timing.num(0.25), Timing.num(2.0))),
        "sf" -> Timing.str("/data/sf0.1"))
      val r = new ObjectMapper().readTree(line)
      assert(r.get("queries").get("q\"1").asDouble === 1.5)
      assert(r.get("queries").get("q2").asDouble === -1.0)
      assert(r.get("spread").get(1).asDouble === 2.0)
      assert(r.get("sf").asText === "/data/sf0.1")
    } finally Locale.setDefault(saved)
  }
}
