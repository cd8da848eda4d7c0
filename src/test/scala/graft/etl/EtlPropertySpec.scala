package graft.etl

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** FIXTURES.md §3 property tests: generator distributions mirror
  * data_generator.py, and the pipeline preserves the invariants
  * (row count, buyer-hash determinism, sort order) across many seeds.
  * (Plain ScalaCheck Gen sampling — the scalatest bridge artifact isn't in
  * the offline dependency cache.) */
class EtlPropertySpec extends SparkSpec {

  private def sampleSeeds(n: Int, from: Long): Seq[Long] =
    (0 until n).flatMap(i =>
      Gen.choose(0L, 1000000L).apply(Gen.Parameters.default, Seed(from + i)))

  test("generate() holds the reference distribution invariants for arbitrary seeds") {
    sampleSeeds(20, 1L).foreach { seed =>
      val rows = Purchases.generate(seed, java.time.LocalDateTime.of(2021, 3, 21, 9, 0))
      assert(rows.size >= 100 && rows.size <= 500, s"seed=$seed size")
      assert(rows.forall { case (e, id, q, p, ts) =>
        e.matches("[a-z]{6,12}@example\\.com") &&
          id >= 100 && id <= 500 && q >= 1 && q <= 10 && p >= 1 && p <= 200 &&
          ts.startsWith("2021-03-21T09")
      }, s"seed=$seed ranges")
      val ts = rows.map(_._5)
      assert(ts == ts.sorted, s"seed=$seed order") // A16 invariant
    }
  }

  test("CSV -> transform round trip is 1:1 on valid input and hash-deterministic") {
    sampleSeeds(3, 77L).foreach { seed =>
      val dir = tempDir("prop_csv").toFile.getAbsolutePath + "/gen"
      val rows = Purchases.generate(seed, java.time.LocalDateTime.of(2021, 3, 21, 10, 0))
      Purchases.writeGeneratedCsv(spark, rows, dir)
      val out = Purchases.etl(spark, dir).collect()
      assert(out.length == rows.size, s"seed=$seed 1:1") // transform is 1:1 on valid rows
      // same email always maps to the same buyer hash
      val expected = rows.map { r =>
        java.security.MessageDigest.getInstance("SHA-1")
          .digest(r._1.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.toSet
      assert(out.map(_.getString(0)).toSet == expected, s"seed=$seed hashes")
    }
  }
}
