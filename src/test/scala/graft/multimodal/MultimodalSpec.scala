package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multimodal plumbing: binary columns, deterministic fake decode, chunking. */
class MultimodalSpec extends SparkSpec {

  test("asset table exposes payload as binary with byte-accurate metadata") {
    val a = Multimodal.assets(spark, sf)
    val row = a.orderBy("asset_id").first()
    assert(row.schema("payload").dataType.typeName === "binary")
    assert(row.getAs[Array[Byte]]("payload").length === row.getInt(row.fieldIndex("n_bytes")))
  }

  test("slice-brightness features are deterministic, batch-shaped, in [0,1)") {
    val f1 = Multimodal.featureFrame(spark, sf).orderBy("asset_id").collect()
    val f2 = Multimodal.featureFrame(spark, sf).orderBy("asset_id").collect()
    assert(f1.map(_.toString).toSeq === f2.map(_.toString).toSeq)
    f1.foreach { r =>
      val feats = r.getSeq[Double](r.fieldIndex("feature"))
      assert(feats.length === 8)
      assert(feats.forall(v => v >= 0.0 && v < 1.0))
      val offs = r.getSeq[Int](r.fieldIndex("frame_offsets"))
      assert(offs.length === 4 && offs.head === 0)
      assert(offs === offs.sorted)
    }
  }

  test("slice-brightness equals the brute per-byte slice mean") {
    val rows = Multimodal.assets(spark, sf)
      .select(col("asset_id"), col("payload"))
      .join(Multimodal.featureFrame(spark, sf).select(col("asset_id"), col("feature")), "asset_id")
      .orderBy("asset_id").limit(64).collect()
    rows.foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      val feats = r.getSeq[Double](r.fieldIndex("feature"))
      val n = b.length
      val exp = (0 until 8).map { i =>
        val lo = n.toLong * i / 8
        val hi = n.toLong * (i + 1) / 8
        val s = (lo until hi).map(p => (b(p.toInt) & 0xff).toLong).sum
        s.toDouble / (255.0 * math.max(hi - lo, 1L))
      }
      assert(feats === exp)
    }
  }

  test("registered feature query emits only sortable scalar columns") {
    val df = Multimodal.featureVec.fn(spark, sf)
    assert(df.schema.fields.forall(f =>
      !f.dataType.typeName.startsWith("array")))
    val row = df.first()
    assert(row.getAs[String]("feature_str").split(",").length === 8)
    assert(row.getAs[String]("frame_offsets_str").split(",").length === 4)
  }

  test("mapPartitions PGM decode recovers the planted header and raster exactly") {
    val d1 = Multimodal.decodeBatch(spark, sf).collect().sortBy(_.asset_id)
    val d2 = Multimodal.decodeBatch(spark, sf).collect().sortBy(_.asset_id)
    assert(d1.length === Multimodal.assets(spark, sf).count())
    assert(d1.toSeq === d2.toSeq) // deterministic
    d1.foreach { r =>
      assert(r.width === 1 + (r.asset_id % 16).toInt) // planted geometry
      assert(r.maxval === 255)
      assert(r.n_pix === r.width * r.height) // raster is exactly w*h bytes
      assert(r.pix_md5.length === 32)
      assert(r.height <= 8 && r.height >= 0)
    }
  }

  test("PGM parser fails fast on malformed headers instead of zeroing") {
    def parse(bytes: Array[Byte]) = {
      Multimodal // route through the same private parser via the public path
      val m = classOf[Multimodal.type].getDeclaredMethods
        .find(_.getName == "decodeOne").get
      m.setAccessible(true)
      m.invoke(Multimodal, Long.box(1L), bytes)
    }
    // good: P5\n2 1\n255\nAB
    val good = "P5\n2 1\n255\nAB".getBytes("US-ASCII")
    val r = parse(good).asInstanceOf[Multimodal.DecodedPgm]
    assert(r.width === 2 && r.height === 1 && r.n_pix === 2
      && r.pix_sum === 'A'.toLong + 'B'.toLong)
    for (bad <- Seq("P6\n2 1\n255\nAB", "P5\n2x1\n255\nAB", "P5\n", ""))
      intercept[java.lang.reflect.InvocationTargetException] {
        parse(bad.getBytes("US-ASCII"))
      }
  }

  test("chunk count matches ceil(bytes/256)") {
    val rows = Multimodal.binaryMeta.fn(spark, sf)
      .select("n_bytes", "n_chunks").collect()
    rows.foreach { r =>
      assert(r.getInt(1) === (r.getInt(0) + 255) / 256)
    }
  }

  test("frame sampling emits stride-5 full-frame indices, capped at 8, none for empty text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    // 100 chars → 6 full 16-byte frames → indices {0,5}; 800 chars → 50
    // frames but cap bites → {0,5,...,35}; 10 chars → 0 full frames; empty → none
    val docs = Seq((1L, "x" * 100), (2L, "y" * 800), (3L, "z" * 10), (4L, ""))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = tempDir("mm_frames").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Multimodal.frameSample.fn(spark, tmp).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSeq.sorted }
    assert(out(1L) === Seq(0L, 5L))
    assert(out(2L) === Seq(0L, 5L, 10L, 15L, 20L, 25L, 30L, 35L))
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("brightness signature: identical payloads collide, uniform payloads sign 0, 8-bit range") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    // 1 and 2 are byte-identical (must share a bucket); 3 is uniform (no
    // slice exceeds the global mean -> signature 0); 4 is back-loaded
    // (high bytes in the last slices -> some high bits set, sig > 0)
    val docs = Seq(
      (1L, "abcdefgh" * 4), (2L, "abcdefgh" * 4),
      (3L, "mmmmmmmm" * 4), (4L, "aaaazzzz" * 4))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = tempDir("mm_sig").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Multimodal.brightnessSig.fn(spark, tmp).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
    rows.foreach { case (sig, _) => assert(sig >= 0 && sig <= 255) }
    // the identical pair shares one bucket of size >= 2 keeping the lower id
    assert(rows.exists { case (_, (n, first)) => n >= 2 && first == 1L })
    // uniform payload: no slice mean strictly above the global mean
    assert(rows.exists { case (sig, (_, first)) => sig == 0 && (first == 3L || first == 1L) })
    assert(rows.map(_._2._1).sum === 4L) // every asset lands in exactly one bucket
  }
}
