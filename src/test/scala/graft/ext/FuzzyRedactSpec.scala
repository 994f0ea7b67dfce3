package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class FuzzyRedactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("redact: masks emails, IPs and phones; counts the originals") {
    val rows = Seq(
      (1L, "mail a@b.io and c.d+x@e.org, ip 192.168.0.1, tel +44-123-4567-890"),
      (2L, "nothing sensitive here"),
      (3L, "two ips 10.0.0.1 10.0.0.2 and version 1.2 stays")).toDF("id", "text")
    val out = Redact.redact(rows, "text").orderBy($"id").collect()
    assert(out(0).getAs[String]("text") ==
      "mail <EMAIL> and <EMAIL>, ip <IP>, tel <PHONE>")
    assert(out(0).getAs[Int]("n_email") == 2)
    assert(out(0).getAs[Int]("n_ipv4") == 1)
    assert(out(0).getAs[Int]("n_phone") == 1)
    assert(out(1).getAs[String]("text") == "nothing sensitive here")
    assert(Seq("n_email", "n_ipv4", "n_phone").forall(out(1).getAs[Int](_) == 0))
    // "version 1.2" is not an IPv4 — conservative patterns
    assert(out(2).getAs[Int]("n_ipv4") == 2)
    assert(out(2).getAs[String]("text").endsWith("version 1.2 stays"))
  }

  test("luhnValid and ibanValid: known-valid identifiers, corruption flips") {
    val valid = Seq("4111111111111111", "4539578763621486",
      "5555555555554444", "378282246310005")
    val cards = (valid ++ valid.map(c => c.dropRight(1) +
      ((c.last - '0' + 1) % 10).toString)).toDF("n")
    val got = cards.select(col("n"), Redact.luhnValid(col("n")).as("ok"))
      .as[(String, Boolean)].collect().toMap
    valid.foreach(c => assert(got(c), c))
    got.view.filterKeys(k => !valid.contains(k)).foreach { case (c, ok) =>
      assert(!ok, s"corrupted $c must fail")
    }
    val ibans = Seq(
      "DE89370400440532013000" -> true,
      "GB82WEST12345698765432" -> true,
      "FR1420041010050500013M02606" -> true,
      "NL91ABNA0417164300" -> true,
      "DE89370400440532013001" -> false, // last digit bumped
      "DE89370400440532013000X" -> false, // format violation
      "de89370400440532013000" -> false, // lowercase country
      "DE8937040044" -> false) // too short
    val gotI = ibans.map(_._1).toDF("i")
      .select(col("i"), Redact.ibanValid(col("i")).as("ok"))
      .as[(String, Boolean)].collect().toMap
    ibans.foreach { case (i, want) => assert(gotI(i) == want, i) }
  }

  test("verifiedCards: checksum gates extraction, order ids excluded") {
    val rows = Seq(
      (1L, "pay with 4111111111111111 order 4111111111111112 ref 12345"),
      (2L, "no digits at all")).toDF("id", "text")
    val got = rows.select(col("id"), Redact.verifiedCards(col("text")).as("c"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("4111111111111111"))
    assert(got(2L).isEmpty)
  }

  test("redact is idempotent: redacted text has no further matches") {
    val rows = Seq((1L, "a@b.io at 10.0.0.1 tel +1-555-0000-123")).toDF("id", "text")
    val once = Redact.redact(rows, "text").select("id", "text")
    val twice = Redact.redact(once, "text").orderBy($"id").collect()(0)
    assert(twice.getAs[String]("text") == "<EMAIL> at <IP> tel <PHONE>")
    assert(Seq("n_email", "n_ipv4", "n_phone").forall(twice.getAs[Int](_) == 0))
  }

  private val names = Seq(
    (1L, "acme corp"), (2L, "acme corpp"), (3L, "acme cor"),
    (4L, "acme holdings"), (5L, "other inc"), (6L, "acme corp") // dup row
  ).toDF("id", "name")

  test("fuzzyPairs: within-block pairs under the distance bound only") {
    val pairs = Fuzzy.fuzzyPairs(names, "name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(pairs == Set(
      ("acme cor", "acme corp", 1L),
      ("acme cor", "acme corpp", 2L),
      ("acme corp", "acme corpp", 1L)))
    // "other inc" is in a different block: never compared
    assert(!pairs.exists(p => p._1.startsWith("other") || p._2.startsWith("other")))
  }

  test("decode parses real PPM payloads: exact dims and channel means") {
    // 2x2 P6: pixels (255,0,0) (0,255,0) (0,0,255) (255,255,255)
    val header = "P6\n# test image\n2 2\n255\n".getBytes("US-ASCII")
    val px: Array[Byte] = Array(
      255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val ppm = header ++ px
    val rows = Seq((1L, ppm, "image/x-portable-pixmap"),
        (2L, "not an image".getBytes("US-ASCII"), "image/png"))
      .toDF("media_id", "payload", "media_type")
    val out = Multimodal.decode(rows, featureDim = 8).orderBy($"media_id").collect()
    val meta = out(0).getStruct(out(0).fieldIndex("meta"))
    assert(meta.getInt(meta.fieldIndex("width")) == 2)
    assert(meta.getInt(meta.fieldIndex("height")) == 2)
    val f = out(0).getSeq[Float](out(0).fieldIndex("features"))
    // channel means: each channel = (255+255)/4/255 = 0.5
    assert(f.take(3).forall(m => math.abs(m - 0.5f) < 1e-6))
    assert(math.abs(f.drop(3).sum - 1.0f) < 1e-6) // histogram sums to 1
    // the non-PPM payload takes the stub path (fake dims from digest)
    val meta2 = out(1).getStruct(out(1).fieldIndex("meta"))
    assert(meta2.getInt(meta2.fieldIndex("width")) >= 16)
  }

  test("decode: crafted overflow header degrades to the stub path, not a crash") {
    // w=h=100000 overflows Int in w*h*3; the Long-math guard must
    // reject it and the row must fall through to the stub features
    val evil = "P6\n100000 100000\n255\n".getBytes("US-ASCII") ++
      Array.fill[Byte](64)(7)
    val rows = Seq((1L, evil, "image/x-portable-pixmap"))
      .toDF("media_id", "payload", "media_type")
    val out = Multimodal.decode(rows, featureDim = 4).collect()(0)
    val meta = out.getStruct(out.fieldIndex("meta"))
    // stub dims are digest-derived (16..79), never the crafted 100000
    val w = meta.getInt(meta.fieldIndex("width"))
    assert(w >= 16 && w < 80)
    assert(out.getSeq[Float](out.fieldIndex("features")).length == 4)
  }

  test("decode parses real PCM WAV payloads: rate, duration, RMS") {
    // mono 8000 Hz, 16-bit, 4000 samples of a ±8192 square wave (0.5s)
    val rate = 8000
    val n = 4000
    val amp = 8192
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until n).foreach(i => bb.putShort((if (i % 2 == 0) amp else -amp).toShort))
    val rows = Seq((1L, bb.array(), "audio/wav")).toDF("media_id", "payload", "media_type")
    val out = Multimodal.decode(rows, featureDim = 4).collect()(0)
    val meta = out.getStruct(out.fieldIndex("meta"))
    assert(meta.getInt(meta.fieldIndex("channels")) == 1)
    assert(meta.getInt(meta.fieldIndex("sample_rate")) == rate)
    assert(meta.getInt(meta.fieldIndex("duration_ms")) == 500)
    val f = out.getSeq[Float](out.fieldIndex("features"))
    assert(math.abs(f(0) - amp / 32768.0f) < 1e-6) // square-wave RMS
    assert(f(1) == 0.0f) // no second channel
  }

  test("dHash: scale-invariant gradients, single-cell flip, banded pairing") {
    // gray P6 from a luma grid: r=g=b=v gives luma exactly v (weights
    // sum to 1000), and a 9x8 source maps onto the hash grid 1:1
    def grayPpm(grid: Array[Array[Int]], scale: Int = 1): Array[Byte] = {
      val h = grid.length * scale; val w = grid(0).length * scale
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px(3 * (y * w + x) + c) = grid(y / scale)(x / scale).toByte
      header ++ px
    }
    val ascending = Array.fill(8)(Array.tabulate(9)(c => c * 10))
    val oneFlip = ascending.map(_.clone)
    oneFlip(0)(0) = 50                     // only bit (0,0) changes
    val descending = Array.fill(8)(Array.tabulate(9)(c => (8 - c) * 10))
    val rows = Seq(
      (1L, grayPpm(ascending), "image/x-portable-pixmap"),
      (2L, grayPpm(oneFlip), "image/x-portable-pixmap"),
      (3L, grayPpm(descending), "image/x-portable-pixmap"),
      (4L, grayPpm(ascending, scale = 2), "image/x-portable-pixmap"),
      (5L, "not an image".getBytes("US-ASCII"), "image/png")
    ).toDF("media_id", "payload", "media_type")
    val sigs = Multimodal.dHash(rows).select($"media_id", $"dhash")
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Long]("dhash")).map(_.longValue)).toMap
    assert(sigs(1L).contains(-1L))          // every gradient ascends
    assert(sigs(3L).contains(0L))           // every gradient descends
    assert(sigs(4L) == sigs(1L))            // 2x upscale: same hash
    assert(java.lang.Long.bitCount(sigs(1L).get ^ sigs(2L).get) == 1)
    assert(sigs(5L).isEmpty)                // no codec claims it
    val pairs = Multimodal.imageNearDups(rows, "media_id", maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 1), (1L, 4L, 0), (2L, 4L, 1)))
  }

  test("resize resamples real PPM payloads nearest-neighbour, stubs pass null") {
    // 2x2 quadrant image: TL red, TR green, BL blue, BR white
    val px: Array[Byte] = Array(
      255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val ppm = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px
    val rows = Seq((1L, ppm, "image/x-portable-pixmap"),
        (2L, "not an image".getBytes("US-ASCII"), "image/png"))
      .toDF("media_id", "payload", "media_type")
    // downsample to 1x1: floor mapping picks the top-left (red) pixel
    val down = Multimodal.resize(rows, 1, 1).orderBy($"media_id").collect()
    val small = down(0).getAs[Array[Byte]]("resized")
    val (w1, h1, px1) = Multimodal.parsePpm(small).get
    assert(w1 == 1 && h1 == 1)
    assert(px1.toSeq == Seq(255.toByte, 0.toByte, 0.toByte))
    assert(down(1).getAs[Array[Byte]]("resized") == null) // no codec
    // upsample to 4x4: each source pixel replicates into a 2x2 block
    val up = Multimodal.resize(rows, 4, 4).orderBy($"media_id").collect()
    val (w4, h4, px4) = Multimodal.parsePpm(up(0).getAs[Array[Byte]]("resized")).get
    assert(w4 == 4 && h4 == 4)
    def pix(x: Int, y: Int) =
      (px4(3 * (y * 4 + x)), px4(3 * (y * 4 + x) + 1), px4(3 * (y * 4 + x) + 2))
    assert(pix(0, 0) == pix(1, 1)) // TL block uniform (red)
    assert(pix(0, 0) == ((255.toByte, 0.toByte, 0.toByte)))
    assert(pix(3, 3) == ((255.toByte, 255.toByte, 255.toByte))) // BR white
    assert(pix(3, 0) == ((0.toByte, 255.toByte, 0.toByte)))     // TR green
    assert(pix(0, 3) == ((0.toByte, 0.toByte, 255.toByte)))     // BL blue
  }

  test("audioFingerprint: gain-invariant envelope signs; audioNearDups pairs") {
    import graft.TestWav.envWav
    // strictly varying sawtooth envelope; `tweak` flips one window
    val saw = (w: Int) => 1 + (w * 7) % 13
    val tweak = (w: Int) => if (w == 30) 14 else saw(w)
    val rev = (w: Int) => 1 + ((64 - w) * 7) % 13
    val rows = Seq(
      (1L, envWav(saw, 100)),   // base
      (2L, envWav(saw, 300)),   // same envelope at 3x gain
      (3L, envWav(tweak, 100)), // one window disturbed
      (4L, envWav(rev, 100)),   // reversed envelope — far
      (5L, "junk".getBytes("US-ASCII")),                 // no codec
      (6L, envWav(saw, 100, n = 60))                     // < 65 frames
    ).toDF("media_id", "payload")
    val fps = Multimodal.audioFingerprint(rows)
      .select($"media_id", $"afp").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    assert(fps(1L).get == fps(2L).get)        // uniform gain invariant
    assert(fps(5L).isEmpty && fps(6L).isEmpty) // honest nulls
    val ham13 = java.lang.Long.bitCount(fps(1L).get ^ fps(3L).get)
    assert(ham13 >= 1 && ham13 <= 2)           // one window → ≤2 sign flips
    assert(java.lang.Long.bitCount(fps(1L).get ^ fps(4L).get) > 3)
    val pairs = Multimodal.audioNearDups(rows, "media_id", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs((1L, 2L)) == 0)
  }

  test("resampleAudio halves the rate, preserves duration and waveform") {
    // reuse the WAV builder shape: mono 8000 Hz, 16-bit, 4000 samples
    val rate = 8000
    val n = 4000
    val amp = 8192
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until n).foreach(i => bb.putShort((if (i % 2 == 0) amp else -amp).toShort))
    val rows = Seq((1L, bb.array(), "audio/wav"),
        (2L, "junk".getBytes("US-ASCII"), "audio/mpeg"))
      .toDF("media_id", "payload", "media_type")
    val out = Multimodal.resampleAudio(rows, 4000).orderBy($"media_id").collect()
    val res = out(0).getAs[Array[Byte]]("resampled")
    val (ch, newRate, bits, d) = Multimodal.parseWav(res).get
    assert(ch == 1 && newRate == 4000 && bits == 16)
    assert(d.length / 2 == 2000) // half the samples -> same 0.5s duration
    // nearest-sample keeps every other sample: all +amp here
    val s0 = ((d(0) & 0xff) | (d(1) << 8)).toShort
    assert(s0 == amp)
    assert(out(1).getAs[Array[Byte]]("resampled") == null) // no codec
  }

  test("readMediaDir ingests real files end-to-end into decode") {
    val dir = java.nio.file.Files.createTempDirectory("media")
    // one real 1x1 red PPM file + one junk file
    val ppm = "P6\n1 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](255.toByte, 0, 0)
    java.nio.file.Files.write(dir.resolve("red.ppm"), ppm)
    java.nio.file.Files.write(dir.resolve("junk.bin"), "junk".getBytes)
    val media = Multimodal.readMediaDir(spark, dir.toString)
    assert(media.count() == 2)
    val decoded = Multimodal.decode(
      media.select("media_id", "payload", "media_type"), featureDim = 4)
      .collect().map(r => r.getAs[String]("media_type") ->
        r.getStruct(r.fieldIndex("meta"))).toMap
    val img = decoded("image/x-portable-pixmap")
    assert(img.getInt(img.fieldIndex("width")) == 1)
    assert(img.getInt(img.fieldIndex("height")) == 1)
    assert(decoded.contains("application/octet-stream")) // stub path
  }

  test("fuzzy resolve: variants map to the lexicographic-min canonical") {
    val m = Fuzzy.resolve(names, "name", maxDist = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("acme corp") == "acme cor")
    assert(m("acme corpp") == "acme cor")
    assert(m("acme cor") == "acme cor")
    // out-of-cluster keys are their own canonical
    assert(m("acme holdings") == "acme holdings")
    assert(m("other inc") == "other inc")
  }

  test("goldenRecord: majority wins, ties break low, nulls don't vote") {
    val df = Seq(
      (1L, Some("A"), Some(10L)), (1L, Some("A"), Some(20L)),
      (1L, Some("B"), None),
      (2L, Some("X"), Some(7L)), (2L, Some("Y"), Some(7L)))
      .toDF("cl", "seg", "nk").repartition(3)
    val got = graft.ext.Fuzzy.goldenRecord(df, "cl", Seq("seg", "nk"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got((1L, "seg")) == (("A", 2L, 2L, 3L))) // majority
    assert(got((1L, "nk")) == (("10", 1L, 2L, 2L))) // 1-1 tie → low
    assert(got((2L, "seg")) == (("X", 1L, 2L, 2L))) // tie → low
    assert(got((2L, "nk")) == (("7", 2L, 1L, 2L)))  // consensus
  }
}
