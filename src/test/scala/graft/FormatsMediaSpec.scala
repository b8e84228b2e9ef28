package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.sources.Formats
import graft.sql.ChDdl

class FormatsMediaSpec extends SparkSpec {
  import spark.implicits._

  private val sample = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0), (3L, "gamma", 0.25))

  test("TSV / CSV / JSONEachRow round-trip") {
    val df = sample.toDF("id", "name", "x")
    Seq("TabSeparatedWithNames", "CSVWithNames", "JSONEachRow").foreach { fmt =>
      val p = Files.createTempDirectory(s"fmt").toString + "/d"
      Formats.write(df, p, fmt)
      val back = Formats.read(spark, p, fmt,
        if (fmt == "JSONEachRow") None else Some(df.schema))
      val got = back.select(col("id").cast("long"), col("name"), col("x").cast("double"))
        .as[(Long, String, Double)].collect().toSet
      assert(got === sample.toSet, fmt)
    }
  }

  test("headerless TabSeparated reads with an explicit schema") {
    val df = sample.toDF("id", "name", "x")
    val p = Files.createTempDirectory("tsv").toString + "/d"
    Formats.write(df, p, "TabSeparated")
    val back = Formats.read(spark, p, "TabSeparated", Some(df.schema))
    assert(back.count() === 3)
    assert(back.columns.toSeq === Seq("id", "name", "x"))
  }

  test("Pretty and Vertical render") {
    def rendered(format: String): String =
      ChDdl.executeRendered(spark, s"SELECT 1 AS k, 'a' AS v FORMAT $format").get
    val p = rendered("PrettyCompact")
    assert(p.contains("│") && p.contains("┌") && p.contains("a"))
    val v = rendered("Vertical")
    assert(v.contains("Row 1:") && v.contains("k: 1"))
  }

  test("Values format parses the INSERT literal body") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("x", DoubleType)))
    val df = Formats.parseValues(spark, "(1, 'a', 0.5), (2, 'b', -1)", schema)
    assert(df.schema.fieldNames.toSeq === Seq("id", "name", "x"))
    assert(df.as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 0.5), (2L, "b", -1.0)))
  }

  test("extremes side channel yields min/max rows over numeric columns") {
    val df = Seq((1L, "a", 5.0), (9L, "b", -2.0), (4L, "c", 0.0)).toDF("k", "s", "v")
    val ex = graft.core.Admin.extremes(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ex("min") === ((1L, -2.0)))
    assert(ex("max") === ((9L, 5.0)))
  }

  test("TSKV / JSON / JSONCompact / XML / WithNamesAndTypes / RowBinary render") {
    import graft.sources.Formats
    val df = spark.sql("SELECT 1 AS a, 'x\ty' AS b UNION ALL SELECT 2, 'z' ORDER BY a")
    assert(Formats.tskv(df) === "a=1\tb=x\\ty\na=2\tb=z")
    // the same rows through the dialect renderer
    def rendered(format: String): String = ChDdl.executeRendered(spark,
      "SELECT 1 AS a, 'x\ty' AS b UNION ALL SELECT 2 AS a, 'z' AS b " +
        s"ORDER BY a FORMAT $format").get
    val wnt = rendered("TabSeparatedWithNamesAndTypes")
    assert(wnt.linesIterator.toSeq.take(2) === Seq("a\tb", "UInt8\tString"))
    val j = rendered("JSON").replaceAll("\\s+", "")
    assert(j.contains(""""meta":[{"name":"a","type":"UInt8"}""") &&
      j.contains(""""rows":2""") && j.contains("""{"a":1,"b":"x\ty"}"""), j)
    assert(rendered("JSONCompact").contains("[1, \"x\\ty\"]"))
    // a Nullable 64-bit integer quotes the way its nested type does
    Seq(Some(5L), None).toDF("n").createOrReplaceTempView("fmt_nullable")
    assert(ChDdl.executeRendered(spark, "SELECT n FROM fmt_nullable FORMAT JSONEachRow")
      .contains("{\"n\":\"5\"}\n{\"n\":null}"))
    val x = rendered("XML").replaceAll("\\s+", "")
    assert(x.contains("<row><a>1</a>") && x.contains("<rows>2</rows>"), x)
    // RowBinary: Int32 LE + varint-length string bytes
    val bin = Formats.rowBinary(df)
    assert(bin.take(5).toSeq === Seq[Byte](1, 0, 0, 0, 3), bin.take(8).toSeq)
    assert(new String(bin.slice(5, 8), "UTF-8") === "x\ty")
    // ODBCDriver: varint column count, (name, CH type) string pairs,
    // then each value text-rendered with a varint length prefix
    // (ODBCDriverBlockOutputStream.cpp) — decode the whole stream back
    val odbc = Formats.odbcDriver(df)
    var pos = 0
    def readStr(): String = {
      var len = 0L; var shift = 0
      var b = 0
      do { b = odbc(pos) & 0xff; pos += 1
        len |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      val s = new String(odbc, pos, len.toInt, "UTF-8"); pos += len.toInt; s
    }
    assert((odbc(pos) & 0xff) === 2); pos += 1 // column count varint
    assert(readStr() === "a"); assert(readStr() === "Int32")
    assert(readStr() === "b"); assert(readStr() === "String")
    // serializeText writes strings raw — the length prefix frames
    // them, so the tab is NOT escaped
    assert(Seq(readStr(), readStr(), readStr(), readStr()) ===
      Seq("1", "x\ty", "2", "z"))
    assert(pos === odbc.length) // no footer, no row framing
  }

  test("media table schema and deterministic features") {
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val media = Media.fromDocuments(docs)
    assert(media.schema.fieldNames.toSeq ===
      Seq("media_id", "kind", "content", "width", "height", "sample_rate", "duration_ms"))
    val feats = Media.decodeFeatures(media, dim = 8)
      .select(col("media_id"), col("features")).limit(5).collect()
    assert(feats.forall(_.getSeq[Float](1).size === 8))
    // determinism: same input → same features on a second run
    val feats2 = Media.decodeFeatures(media, dim = 8)
      .select(col("media_id"), col("features")).limit(5).collect()
    assert(feats.map(_.getSeq[Float](1)).toSeq === feats2.map(_.getSeq[Float](1)).toSeq)
    assert(feats.forall(_.getSeq[Float](1).forall(f => f >= -1f && f <= 1f)))
  }

  test("real media decode: PNG luminance grid and WAV amplitude buckets") {
    // a genuine 8x8 PNG — left half white, right half black — built
    // with the same JDK codec the decoder uses
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xffffff else 0x000000)
    val pngOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngOut)
    // a genuine 16-bit PCM WAV — first half silence, second half loud
    val samples = 800
    val pcm = new Array[Byte](samples * 2)
    for (i <- samples / 2 until samples) {
      val v: Short = 12000
      pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)

    val media = Seq(
      (1L, "image", pngOut.toByteArray),
      (2L, "audio", wavOut.toByteArray),
      (3L, "video", "not a real codec payload".getBytes("UTF-8")))
      .toDF("media_id", "kind", "content")
    val out = Media.decodeMediaFeatures(spark, media, dim = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getSeq[Float](3))).toMap

    // image: 2x2 grid — cells (0,0)/(1,0) white → +1, (0,1)/(1,1)... the
    // grid splits x then y: lanes 0,2 cover the left (white) half
    val (imgOk, imgF) = out(1L)
    assert(imgOk)
    assert(imgF(0) > 0.9f && imgF(2) > 0.9f, imgF.toList)
    assert(imgF(1) < -0.9f && imgF(3) < -0.9f, imgF.toList)
    // audio: buckets 0-1 silent → -1, buckets 2-3 loud → > silent
    val (audOk, audF) = out(2L)
    assert(audOk)
    assert(audF(0) === -1f && audF(1) === -1f, audF.toList)
    assert(audF(2) > -0.5f && audF(3) > -0.5f, audF.toList)
    // undecodable bytes: deterministic fallback, flagged not-decoded
    val (vidOk, vidF) = out(3L)
    assert(!vidOk && vidF.length === 4 && vidF.forall(f => f >= -1f && f <= 1f))
  }

  test("perceptual near-dup: one-pixel edits collide, distinct images do not") {
    def png(pixels: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, pixels(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // deterministic gradient; B flips ONE pixel; C is a different pattern
    def grad(x: Int, y: Int): Int = { val v = (x * 32 + y * 3) & 0xff; (v << 16) | (v << 8) | v }
    val a = png(grad)
    val b = png((x, y) => if (x == 3 && y == 3) 0xffffff else grad(x, y))
    val c = png((x, y) => { val v = ((x * 97 + y * 41) * 31) & 0xff; (v << 16) | (v << 8) | v })
    val media = Seq((1L, "image", a), (2L, "image", b), (3L, "image", c))
      .toDF("media_id", "kind", "content")
    val pairs = Media.nearDupCandidates(spark, media, dim = 64, maxHamming = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"one-pixel edit must collide: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"distinct image flagged: $pairs")
    // dHash brightness invariance: a globally brightened copy hashes identically
    val bright = png((x, y) => { val v = math.min((grad(x, y) & 0xff) + 40, 255); (v << 16) | (v << 8) | v })
    val ph = Media.decodeMediaFeatures(
      spark, Seq((1L, "image", a), (4L, "image", bright)).toDF("media_id", "kind", "content"), 64)
      .selectExpr("media_id", "phash64(features) AS ph")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(ph(1L) ^ ph(4L)) <= 4,
      s"brightness shift moved the phash ${java.lang.Long.bitCount(ph(1L) ^ ph(4L))} bits")
  }

  test("materialized features: q127 equals the decode-inline q112 row-for-row") {
    // the MATERIALIZED-column variant must be a pure re-expression:
    // same ids, same phashes, same candidate counts
    val a = queries.MultimodalQueries.q112(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = queries.MultimodalQueries.q127(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a.nonEmpty)
    assert(a === b)
    // second run reuses the written table (idempotent ingest) and
    // still matches
    val c = queries.MultimodalQueries.q127(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(c === a)
  }

  test("materialized features refresh when content changes at equal row count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_matfeat").toFile
    val path = new java.io.File(dir, "feat.parquet").getAbsolutePath
    def corpus(tag: String) = Seq(
      (1L, "image", s"payload-one-$tag".getBytes("UTF-8")),
      (2L, "image", s"payload-two-$tag".getBytes("UTF-8")))
      .toDF("media_id", "kind", "content")
    Media.materializeFeatures(spark, corpus("v1"), path)
    val ph1 = spark.read.parquet(path).selectExpr("media_id", "ph")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same ids, same ROW COUNT, different payload bytes: the r13
    // row-count freshness check silently kept the stale features here
    Media.materializeFeatures(spark, corpus("v2"), path)
    val ph2 = spark.read.parquet(path).selectExpr("media_id", "ph")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph1.keySet === ph2.keySet)
    assert(ph1 !== ph2, "content change at equal count must refresh features")
    // unchanged corpus: the parquet files must NOT be rewritten
    val stamps = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    Media.materializeFeatures(spark, corpus("v2"), path)
    val stamps2 = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(stamps === stamps2, "unchanged corpus must not re-decode")
  }

  test("frame sampling emits the arithmetic frame count") {
    val media = Seq((1L, "video", Array.fill[Byte](200)(7))).toDF("media_id", "kind", "content")
    val frames = Media.sampleFrames(spark, media, stride = 64, frameLen = 32)
    // offsets 0, 64, 128 → (200-32)/64+1 = 3 frames of 32 bytes
    assert(frames.count() === 3)
    assert(frames.select(max(col("frame_offset"))).collect()(0).getInt(0) === 128)
    assert(frames.select(length(col("frame"))).distinct().collect()(0).getInt(0) === 32)
  }
}
