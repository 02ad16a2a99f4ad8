package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, TextAnalysis}
import graft.streaming.EventStream

/** Text analysis, multimodal plumbing, and the Structured Streaming twins. */
class AnalysisStreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("lang_id: marker heuristics pick the seeded language") {
    val rows = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der Hund und die Katze und das Haus"),
      (3L, "le chat et la maison et les arbres"),
      (4L, "zzz qqq www")) // no markers -> und
      .toDF("doc_id", "t")
    val got = rows.select(col("doc_id"), TextAnalysis.langId(col("t")))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("quality: ratios in [0,1]; stopword-free text scores higher") {
    val rows = Seq(
      (1L, Seq.tabulate(30)(i => s"unique$i").mkString(" ")),
      (2L, Seq.fill(30)("the").mkString(" ")))
      .toDF("doc_id", "t")
    val got = TextAnalysis.quality(rows, "t")
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(1L) > got(2L))
  }

  test("token_count: ws and bpe-ish counts") {
    val got = Seq((1L, "foo bar2 baz!")).toDF("doc_id", "t")
      .select(TextAnalysis.wsTokens(col("t")), TextAnalysis.bpeTokens(col("t")))
      .as[(Int, Int)].collect().head
    assert(got == ((3, 5))) // foo|bar|2|baz|!
  }

  test("fingerprint: equal on identical, differs on different docs") {
    val rows = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "t")
    val fp = rows.select(col("doc_id"), TextAnalysis.fingerprint(col("t")))
      .as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("fingerprint: native MinShingleDigest == HOF twin (randomized)") {
    // under-k docs must be NULL both sides; multi-byte tokens and empty
    // tokens exercise the byte-wise-unsigned vs hex-lexicographic order
    // equivalence the kernel relies on.
    val rnd = new scala.util.Random(73)
    val vocab = Vector("alpha", "beta", "γάμμα", "дельта", "", "e", "多字节词")
    val texts = (0 until 300).map { _ =>
      Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } ++ Seq("", "one", "one two", "one two three")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val got = df.select(
        TextAnalysis.fingerprint(col("t")).as("n"),
        TextAnalysis.fingerprintHof(col("t")).as("h"))
      .collect()
    got.foreach { r => assert(r.get(0) == r.get(1), s"${r.get(0)} != ${r.get(1)}") }
  }

  test("fingerprint kernel codegen path: under-k input is NULL inside a codegen'd projection") {
    // Seq.toDF inputs become LocalRelations (interpreted, driver-folded),
    // and co-projecting the CodegenFallback HOF twin kicks the Project out
    // of whole-stage codegen — so the randomized twin test above never runs
    // the kernel's GENERATED code. Drive the kernel ALONE off spark.range
    // (a codegen'd source): an under-k NON-null input must set isNull in
    // the generated code, not mirror the child's (a defineCodeGen
    // regression NPEs right here).
    val texts = Seq("", "one", "one two", "alpha beta gamma delta")
    val df = spark.range(texts.size)
      .select(col("id"),
        element_at(array(texts.map(lit): _*), (col("id") + 1).cast("int")).as("t"))
      .select(col("id"), TextAnalysis.fingerprint(col("t")).as("fp"))
    // the *( prefix must be on the kernel's OWN Project line — spark.range
    // is always codegen'd, so a plan-wide contains("*(") would stay green
    // even if the fingerprint projection fell back to interpreted eval
    val kernelLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("min_shingle_digest"))
    assert(kernelLine.exists(_.trim.startsWith("*(")),
      s"kernel projection must be whole-stage codegen'd, got: $kernelLine")
    val got = df.collect().sortBy(_.getLong(0)).map(r => Option(r.getString(1)))
    assert(got.take(3).forall(_.isEmpty), s"under-k docs must be NULL: ${got.toSeq}")
    val expected = Seq(("alpha beta gamma delta"))
      .toDF("t").select(TextAnalysis.fingerprintHof(col("t")))
      .as[String].collect().head
    assert(got(3).contains(expected))
  }

  test("multimodal: synthesized BMPs decode via javax.imageio to the derived dims") {
    val docs = Seq((1L, "hello world"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = Multimodal.decodeMeta(spark, Multimodal.withBmpPayload(docs))
      .collect().sortBy(_.doc_id)
    val dims = docs.select(col("doc_id"),
        Multimodal.widthCol(col("text")), Multimodal.heightCol(col("text")))
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    got.zip(dims).foreach { case (m, (_, w, h)) =>
      assert(m.width == w && m.height == h, s"doc ${m.doc_id}")
      assert(m.byte_len == 54L + ((w * 3 + 3) / 4) * 4 * h)
      assert(m.header_hex.startsWith("424d")) // 'BM'
      assert(m.n_frames == 1)
    }
    // determinism: same input -> same decode
    val again = Multimodal.decodeMeta(spark, Multimodal.withBmpPayload(docs))
      .collect().sortBy(_.doc_id)
    assert(got.toSeq == again.toSeq)
  }

  test("multimodal: synthesized WAVs decode via javax.sound to the derived params") {
    val docs = Seq((1L, "hello world"), (2L, ""), (3L, "audio")).toDF("doc_id", "text")
    val got = Multimodal.decodeAudioMeta(spark, Multimodal.withWavPayload(docs))
      .collect().sortBy(_.doc_id)
    val dims = docs.select(col("doc_id"), Multimodal.sampleRateCol(col("text")),
        Multimodal.channelsCol(col("text")), Multimodal.framesCol(col("text")))
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1)
    got.zip(dims).foreach { case (m, (_, rate, ch, fr)) =>
      assert(m.sample_rate == rate && m.channels == ch && m.n_frames == fr,
        s"doc ${m.doc_id}")
      assert(m.byte_len == 44L + fr.toLong * ch * 2)
    }
    assert(dims.map(_._2).forall(Multimodal.wavRates.contains))
  }

  test("multimodal: NN half-resize — dims/len as derived AND pixels are the even-coordinate source pixels") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(8)
    val withP = Multimodal.withBmpPayload(docs)
    val metas = Multimodal.resizeHalf(spark, withP).collect()
    assert(metas.nonEmpty)
    metas.foreach { m =>
      assert(m.out_width == math.max(1, m.width / 2))
      assert(m.out_height == math.max(1, m.height / 2))
      val rowSize = ((m.out_width * 3 + 3) / 4) * 4
      assert(m.out_len == 54L + rowSize.toLong * m.out_height)
    }
    // pixel fidelity on one payload, end to end through the real codec:
    // re-running the transform locally and re-decoding the re-encoded BMP
    // must reproduce the source's even-coordinate pixels exactly.
    val bytes = withP.select("payload").as[Array[Byte]].head()
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w2 = math.max(1, src.getWidth / 2)
    val h2 = math.max(1, src.getHeight / 2)
    val scaled = new java.awt.image.BufferedImage(w2, h2,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    (0 until h2).foreach(y => (0 until w2).foreach(x =>
      scaled.setRGB(x, y, src.getRGB(x * 2, y * 2))))
    val redecoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeBmpFromImage(scaled)))
    (0 until h2).foreach(y => (0 until w2).foreach { x =>
      assert((redecoded.getRGB(x, y) & 0xffffff) == (src.getRGB(x * 2, y * 2) & 0xffffff),
        s"pixel ($x,$y) diverged through resize+re-encode")
    })
  }

  test("multimodal: frame-sampling keeps exactly frames 0, k, 2k, ... byte-for-byte") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(8)
    val withP = Multimodal.withWavPayload(docs)
    val metas = Multimodal.sampleFrames(spark, withP, k = 4).collect()
    assert(metas.nonEmpty)
    metas.foreach { m =>
      assert(m.out_frames == (m.n_frames + 3) / 4)
      // out_len = 44 + out_frames * channels * 2 for channels in {1, 2}
      assert((m.out_len - 44) % (m.out_frames * 2) == 0)
      val channels = (m.out_len - 44) / (m.out_frames * 2)
      assert(channels == 1 || channels == 2, s"implied channels $channels")
    }
    // byte-level stride fidelity on one payload
    val bytes = withP.select("payload").as[Array[Byte]].head()
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    val fs = fmt.getFrameSize
    val pcm = ais.readAllBytes(); ais.close()
    val n = pcm.length / fs
    val outN = (n + 3) / 4
    val sampled = Multimodal.encodeWavFromPcm(fmt.getSampleRate.toInt,
      fmt.getChannels,
      (0 until outN).flatMap(f => pcm.slice(f * 4 * fs, f * 4 * fs + fs)).toArray)
    val ais2 = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(sampled))
    assert(ais2.getFrameLength == outN.toLong)
    val pcm2 = ais2.readAllBytes(); ais2.close()
    (0 until outN).foreach { f =>
      (0 until fs).foreach { b =>
        assert(pcm2(f * fs + b) == pcm(f * 4 * fs + b),
          s"frame $f byte $b diverged through sampling+re-encode")
      }
    }
  }

  test("multimodal: stridePcm skip-read path matches the readAllBytes twin byte-for-byte") {
    val rnd = new scala.util.Random(20260817L)
    for (_ <- 0 until 40) {
      val channels = 1 + rnd.nextInt(2)
      val rate = 8000 + rnd.nextInt(8) * 1000
      val n = 1 + rnd.nextInt(5000)
      val k = 1 + rnd.nextInt(9)
      val pcm = new Array[Byte](n * channels * 2)
      rnd.nextBytes(pcm)
      val wav = Multimodal.encodeWavFromPcm(rate, channels, pcm)
      def open() = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val a1 = open()
      val fast = Multimodal.stridePcm(a1, a1.getFormat.getFrameSize,
        a1.getFrameLength, k)
      a1.close()
      val a2 = open()
      val slow = Multimodal.stridePcmViaReadAll(a2, a2.getFormat.getFrameSize,
        a2.getFrameLength, k)
      a2.close()
      assert(java.util.Arrays.equals(fast, slow),
        s"stride divergence at n=$n k=$k channels=$channels")
    }
  }

  test("multimodal: GIF video twin — frame count and dims survive the real codec round trip") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(8)
    val metas = Multimodal.decodeVideoMeta(spark,
      Multimodal.withGifPayload(docs)).collect()
    assert(metas.nonEmpty)
    metas.foreach { m =>
      assert(m.n_frames >= 2 && m.n_frames <= 6)
      assert(m.sampled_frames == (m.n_frames + 1) / 2)
      assert(m.width >= 1 && m.width <= 32 && m.height >= 1 && m.height <= 32)
    }
    // direct encoder round trip with known params
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bytes = try Multimodal.encodeGifWith(writer, 5, 3, 4, "seed".getBytes("UTF-8"))
      finally writer.dispose()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val r = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    r.setInput(iis)
    assert(r.getNumImages(true) == 4)
    assert(r.read(0).getWidth == 5 && r.read(0).getHeight == 3)
    iis.close()
  }

  test("multimodal: encodeBmpScalar bytes are a valid BMP for plain ImageIO.read") {
    val bytes = Multimodal.encodeBmpScalar(17, 5, "seed".getBytes("UTF-8"))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == 17 && img.getHeight == 5)
    assert(bytes.length == 54 + ((17 * 3 + 3) / 4) * 4 * 5)
    // payload bytes pinned: the mm_* gates predict them byte for byte
    def sha(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    assert(sha(bytes) ==
      "5e3d56f2f4842bba375561e081350d75c7eeb2cba4f0dfd98165e9eb33c33d8b")
    assert(sha(Multimodal.encodeWavScalar(8000, 2, 100, "seed".getBytes("UTF-8"))) ==
      "b297827a50b3d5a08977c351acbc3b8be5f5e06f1fca42cd7bd1da377f372e82")
  }

  /** File streaming sources need a directory; stage the events parquet. */
  private def stageEventsDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming: watermarked hourly counts == batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val eventsStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageEventsDir())

    val q = EventStream.hourlyCounts(eventsStream)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly")
      .select(date_format(col("ws"), "yyyy-MM-dd HH").as("h"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming: exact dedup emits one row per distinct content key") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val d = java.nio.file.Files.createTempDirectory("docs-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("a.parquet"))
    // second file repeats the same docs: a pure-duplicate micro-batch
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("b.parquet"))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d.toString)
    val q = EventStream.dedupDocs(stream)
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_docs").count()
    val batchDistinct = spark.read.parquet(s"$dir/documents.parquet")
      .select(sha2(col("text"), 256)).distinct().count()
    assert(streamed == batchDistinct,
      "the duplicate micro-batch must be fully suppressed by dedup state")
  }

  test("streaming: horizon dedup — in-horizon duplicate dropped, expired key re-emits") {
    // the streaming twin of O2's retention: dropDuplicatesWithinWatermark
    // evicts a key's state once the watermark passes its ts + horizon.
    // MemoryStream gives batch-precise control over watermark advancement
    // (the watermark updates at the END of each micro-batch).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val q = EventStream.dedupDocsWithHorizon(
        ms.toDF().toDF("doc_id", "text", "ts"), horizon = "1 hour")
      .writeStream.format("memory").queryName("dedup_horizon")
      .outputMode("append").start()
    try {
      // batch 1: first occurrences emit; watermark -> 10:05 - 1h
      ms.addData((1L, "A", "2024-01-01 10:00:00"), (2L, "B", "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // batch 2: A again within the horizon -> dropped; C at 20:00 emits
      // and advances the watermark to 19:00 (> A's 10:00 + 1h -> A evicted)
      ms.addData((3L, "A", "2024-01-01 10:30:00"), (4L, "C", "2024-01-01 20:00:00"))
      q.processAllAvailable()
      // batch 3: A re-arrives after its state expired -> re-emits
      ms.addData((5L, "A", "2024-01-01 19:30:00"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_horizon").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L, 5L),
      s"expected in-horizon dup 3 dropped and expired key 5 re-emitted, got $got")
  }

  /** Replay crafted batches through dedupDocsWithHorizon (1h horizon) and
    * return the emitted (doc_id, ts-string) rows — the probe harness for
    * the dropDuplicatesWithinWatermark state arithmetic the
    * stream_dedup_horizon twin replicates (the specs below pin each rule).
    */
  private def runDedupBatches(name: String,
      batches: Seq[Seq[(Long, String, String)]]): Seq[(Long, String)] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val q = EventStream.dedupDocsWithHorizon(
        ms.toDF().toDF("doc_id", "text", "ts"), horizon = "1 hour")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).selectExpr("doc_id", "cast(ts as string)")
      .as[(Long, String)].collect().toSeq
  }

  test("streaming: dedup horizon state is evicted in a NO-DATA batch before the key's re-arrival") {
    // A@05:10 (expiry 06:10), B@08:00 -> watermark 07:00 >= expiry. A
    // re-arrives at 07:30 in the first data batch after the advance and
    // must find its state already gone (probed: dprobe1).
    val rows = runDedupBatches("dedup_empty_batch", Seq(
      Seq((1L, "A", "2024-01-01 05:10:00")),
      Seq((2L, "B", "2024-01-01 08:00:00")),
      Seq((1L, "A", "2024-01-01 07:30:00"))))
    assert(rows.count(_._2.startsWith("2024-01-01 07:30")) == 1,
      s"expected A evicted + re-emitted, got $rows")
  }

  test("streaming: dedup horizon — an in-horizon duplicate does NOT extend the stored expiry") {
    // A@05:00 (expiry 06:00), dup A@05:50 dropped (would extend to 06:50),
    // B@07:30 -> wm 06:30. A@07:00 re-emits: the dup left the expiry at
    // 06:00 < wm (probed: dprobe2). The twin's walk keeps `le` unchanged
    // on dropped rows for exactly this reason.
    val rows = runDedupBatches("dedup_no_extend", Seq(
      Seq((1L, "A", "2024-01-01 05:00:00")),
      Seq((1L, "A", "2024-01-01 05:50:00")),
      Seq((2L, "B", "2024-01-01 07:30:00")),
      Seq((1L, "A", "2024-01-01 07:00:00"))))
    assert(rows.count(_._1 == 1L) == 2,
      s"expected the 05:50 dup dropped without extending expiry, got $rows")
  }

  test("streaming: dedup horizon eviction fires ON EQUALITY (watermark == expiry evicts)") {
    // A@05:00 (expiry 06:00.000), B@07:00:00.000 -> wm EXACTLY 06:00.000.
    // A@06:30 re-emits (probed: dprobe3) — the OPPOSITE polarity of the
    // flatMapGroupsWithState timeout, which is strict (see "horizon
    // timeout is STRICT" above). The dedup twin uses `>=` where the
    // running-totals twin uses `>`; do not "unify" them.
    val rows = runDedupBatches("dedup_equality", Seq(
      Seq((1L, "A", "2024-01-01 05:00:00")),
      Seq((2L, "B", "2024-01-01 07:00:00")),
      Seq((1L, "A", "2024-01-01 06:30:00"))))
    assert(rows.count(_._1 == 1L) == 2,
      s"expected watermark == expiry to evict (re-emit), got $rows")
  }

  test("streaming: dedup horizon state keeps MICROSECOND event-time precision") {
    // A carries 600 micros: its stored expiry is 06:00:00.000600, ABOVE
    // the ms-floored watermark 06:00:00.000 that equality-evicts an
    // ms-exact key (see the equality test above) — so A survives and its
    // re-arrival is dropped (probed: dprobe6). This is the OPPOSITE of
    // the flatMapGroupsWithState state's Timestamp.getTime ms floor, and
    // it is WHY the stream_dedup_horizon feed must be ms-exact: a
    // micros-carrying feed holds sub-ms expiries the DuckDB twin's
    // epoch_ms arithmetic cannot represent.
    val rows = runDedupBatches("dedup_micros_state", Seq(
      Seq((1L, "A", "2024-01-01 05:00:00.000600")),
      Seq((2L, "B", "2024-01-01 07:00:00")),
      Seq((1L, "A", "2024-01-01 06:30:00"))))
    assert(rows.count(_._1 == 1L) == 1,
      s"expected the micros expiry to survive the ms-floored watermark, got $rows")
  }

  test("streaming: dedup horizon expiry is event time + delay, not bare event time") {
    // A@05:00, B@06:30 -> wm 05:30. Bare-ts expiry would evict A (05:00 <=
    // 05:30) and re-emit its 06:00 arrival; probed (dprobe5): the expiry is
    // ts + delay = 06:00 > wm, so the arrival is dropped as a duplicate.
    val rows = runDedupBatches("dedup_expiry_form", Seq(
      Seq((1L, "A", "2024-01-01 05:00:00")),
      Seq((2L, "B", "2024-01-01 06:30:00")),
      Seq((1L, "A", "2024-01-01 06:00:00"))))
    assert(rows.count(_._1 == 1L) == 1,
      s"expected the 06:00 arrival dropped (expiry = ts + delay), got $rows")
  }

  test("streaming: replayDailyDedup matches the twin arithmetic on a crafted eviction") {
    // end-to-end through the gate harness (12h horizon): user 1 skips two
    // days and re-emits; user 2's day-2 arrival is still in state; user 9
    // hits the EQUALITY eviction edge exactly (wm(d3) = d2 11:50 == its
    // d1 23:50 + 12h expiry). Day-1 user-1 rows are duplicated in-batch —
    // exactly one emission. Expected values computed by the twin's walk.
    def ms(s: String): Long = java.time.Instant.parse(s).toEpochMilli
    val ev = Seq(
      (1L, "u1", "2024-01-01 10:00:00"),
      (1L, "u1", "2024-01-01 10:00:00"), // in-batch byte-identical dup
      (2L, "u2", "2024-01-01 23:00:00"),
      (9L, "u9", "2024-01-01 23:50:00"),
      (2L, "u2", "2024-01-02 09:00:00"),
      (9L, "u9", "2024-01-02 23:50:00"),
      (9L, "u9", "2024-01-03 23:50:00"),
      (1L, "u1", "2024-01-04 08:00:00"))
      .toDF("user_id", "text", "ts")
      .select(col("user_id"), col("text"), col("ts").cast("timestamp"))
    // sorted Seq, NOT a Set: a double emission of the in-batch duplicate
    // (or a buf double-append) would collapse in a set and pass silently
    val got = EventStream.replayDailyDedup(spark, ev)
      .as[(Long, Long)].collect().toSeq.sorted
    val want = Seq(
      1L -> ms("2024-01-01T10:00:00Z"), // first arrival (dup suppressed)
      1L -> ms("2024-01-04T08:00:00Z"), // wm(d4) = d3 11:50 >= d1 22:00
      2L -> ms("2024-01-01T23:00:00Z"), // d2: wm = d1 11:50 < d2 11:00
      9L -> ms("2024-01-01T23:50:00Z"),
      9L -> ms("2024-01-03T23:50:00Z")) // equality eviction at d3
      .sorted
    assert(got == want, s"expected $want, got $got")
  }

  test("streaming: foreachBatch KG pipeline == batch triples (micro-batched corpus)") {
    // the full pipeline (cleanup -> split/tag -> link -> triples) running
    // per micro-batch over a file stream of the Doc table must produce
    // exactly the batch result: docs are row-atomic, so batching partitions
    // the doc set and per-doc triples union disjointly.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.docsDf(spark, dir)
    val in = java.nio.file.Files.createTempDirectory("kg-stream-in")
    val out = java.nio.file.Files.createTempDirectory("kg-stream-out")
    val chk = java.nio.file.Files.createTempDirectory("kg-stream-chk")
    docs.repartition(3).write.mode("overwrite").parquet(in.toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val q = EventStream.forEachBatchTriples(spark, stream,
      out.toString, chk.toString).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out.toString)
    assert(streamed.select(countDistinct(col("batch_id"))).as[Long].head() > 1L,
      "corpus must actually arrive over multiple micro-batches")
    val got = streamed.select("subj", "pred", "obj", "repo", "lang")
      .as[(String, String, String, String, String)].collect().toSet
    val want = graft.pipeline.KgPipeline.triples(spark, docs)
      .as[(String, String, String, String, String)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming: replayKgBatches — batchId == key order, per-slice triples exact") {
    // the stream_kg gate's harness contract: groups fed in ascending key
    // order get batchId == key, and each micro-batch's triples are exactly
    // the batch pipeline over its doc slice (docs are row-atomic through
    // the non-canonical pipeline; the per-batch distinct sees only its
    // slice). A cross-slice leak, a skipped/extra micro-batch, or an
    // engine-initiated batch split would all break the per-b equality.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.docsDfWithId(spark, dir)
      .withColumn("b", col("doc_id") % 3) // `%` like the shipped gate, NOT pmod
    val (got, sites) = Fixtures.jobsDuring(spark)(
      EventStream.replayKgBatches(spark, docs, "b")
        .select("batch_id", "subj", "pred", "obj", "repo", "lang")
        .as[(Long, String, String, String, String, String)].collect())
    // the read-back declares the sink's schema: no footer-inference job
    assert(!sites.exists(_.startsWith("parquet at EventStream")), sites)
    assert(got.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    (0 until 3).foreach { b =>
      val slice = docs.filter(col("b") === b).drop("b", "doc_id")
      val want = graft.pipeline.KgPipeline.triples(spark, slice)
        .as[(String, String, String, String, String)].collect().toSet
      val g = got.filter(_._1 == b)
        .map(r => (r._2, r._3, r._4, r._5, r._6)).toSet
      assert(want.nonEmpty, s"batch $b must carry triples")
      assert(g == want, s"batch $b diverges from its batch-pipeline slice")
    }
  }

  test("streaming: replay harness — cloned session gets min(caller, ceil(rows / rowsPerPartition)) partitions, caller conf untouched") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "4")
    val batches = Seq(Seq(1, 2, 3), Seq(4, 5))
    def run(rowsPerPartition: Int): (String, Seq[(Long, Seq[Int])]) = {
      var parts = ""
      val fed = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int])]()
      EventStream.replay(caller, batches, Seq("v"), rowsPerPartition) { (s, df, chk) =>
        assert(s ne caller)
        parts = s.conf.get("spark.sql.shuffle.partitions")
        df.writeStream.option("checkpointLocation", chk)
          .foreachBatch { (b: DataFrame, id: Long) =>
            val vs = b.as[Int].collect().toSeq.sorted
            fed.synchronized { fed += ((id, vs)) }; ()
          }
          .start()
      }
      (parts, fed.synchronized { fed.toSeq })
    }
    val (below, fed) = run(rowsPerPartition = 2) // ceil(5 / 2) = 3 < 4
    assert(below == "3")
    assert(fed == Seq((0L, Seq(1, 2, 3)), (1L, Seq(4, 5))),
      "one micro-batch per fed batch, in feed order")
    assert(run(rowsPerPartition = 1)._1 == "4") // ceil(5 / 1) = 5, capped
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
  }

  test("streaming: replay harness deletes its checkpoint after a normal run, a throwing start and a failing batch") {
    def replayed(start: (DataFrame, String) => StreamingQuery): (String, Option[Throwable]) = {
      var chk: String = null
      val err = scala.util.Try(
        EventStream.replay(spark, Seq(Seq(1), Seq(2)), Seq("v"), 1) { (_, df, c) =>
          chk = c
          assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(c)))
          start(df, c)
        }).failed.toOption
      assert(chk != null, "start must be handed a checkpoint dir")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(chk)),
        s"checkpoint $chk must be deleted")
      (chk, err)
    }
    def sink(df: DataFrame, chk: String, failOn: Long): StreamingQuery =
      df.writeStream.option("checkpointLocation", chk)
        .foreachBatch { (_: DataFrame, id: Long) =>
          if (id == failOn) throw new IllegalStateException(s"batch $id"); ()
        }
        .start()
    assert(replayed((df, c) => sink(df, c, failOn = -1))._2.isEmpty)
    assert(replayed((_, _) => throw new IllegalStateException("start"))._2
      .exists(_.getMessage == "start"))
    assert(replayed((df, c) => sink(df, c, failOn = 1))._2
      .exists(_.isInstanceOf[StreamingQueryException]))
  }

  test("streaming: replay session writes checkpoint, state and sink without forking") {
    import java.nio.file.{Files, Path => JPath}
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    import graft.pipeline.NioLocalFileSystem
    val batches = Seq(Seq(1, 2, 3), Seq(4, 5))
    val root = Files.createTempDirectory("replay-parity")
    // the same stateful query and parquet sink on either session; each
    // checkpoints into a dir this spec owns (the harness deletes its own)
    def query(s: SparkSession, df: DataFrame, name: String,
        nio: Boolean): StreamingQuery = {
      val sink = root.resolve(s"$name-sink").toString
      df.groupBy((col("v") % 2).as("k")).count()
        .writeStream.outputMode("update")
        .option("checkpointLocation", root.resolve(s"$name-chk").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          assert(new Path(sink).getFileSystem(b.sparkSession.sessionState
            .newHadoopConf()).isInstanceOf[NioLocalFileSystem] == nio)
          b.write.mode("append").parquet(sink); ()
        }
        .start()
    }
    // relative name (temp UUIDs masked) -> permission bits, per tree
    def tree(name: String): Seq[(String, String)] = {
      val base = root.resolve(name)
      val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
      val w = Files.walk(base)
      try w.iterator().asScala.filter(_ != base).map { (p: JPath) =>
        uuid.replaceAllIn(base.relativize(p).toString, "<uuid>") ->
          java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p))
      }.toSeq.sorted
      finally w.close()
    }
    try {
      EventStream.replay(spark, batches, Seq("v"), rowsPerPartition = 3) { (s, df, chk) =>
        val conf = s.sessionState.newHadoopConf()
        assert(CheckpointFileManager.create(new Path(chk), conf)
          .isInstanceOf[FileSystemBasedCheckpointFileManager])
        assert(new Path(chk).getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
        query(s, df, "replay", nio = true)
      }
      EventStream.replayFsConf.keys.foreach { k =>
        assert(spark.conf.getOption(k).isEmpty, s"caller session must not carry $k")
      }
      assert(!spark.sessionState.newHadoopConf().get("fs.file.impl", "")
        .contains("NioLocalFileSystem"))
      // the stock twin: a plain clone at the same partition count
      // (ceil(5 / 3) = 2), the default FileContext checkpoint manager
      val plain = spark.newSession()
      plain.conf.set("spark.sql.shuffle.partitions", "2")
      val ms = { implicit val ctx = plain.sqlContext; MemoryStream[Int] }
      val q = query(plain, ms.toDF().toDF("v"), "plain", nio = false)
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      Seq("chk", "sink").foreach { t =>
        val (r, p) = (tree(s"replay-$t"), tree(s"plain-$t"))
        assert(r.exists(_._1.endsWith(".crc")), s"$t tree must hold .crc files")
        assert(r == p, s"$t trees differ:\nreplay $r\nplain  $p")
      }
      assert(tree("replay-chk").exists(_._1.startsWith("state/")))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(root.toFile)
    }
  }

  test("streaming: mapGroupsWithState running totals match batch counts") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val eventsStream = spark.readStream.schema(schema)
      .parquet(stageEventsDir())
    val q = EventStream.runningPerUser(spark, eventsStream.toDF())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    // last state per user == batch count
    val streamed = spark.table("running")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .as[(Long, Long)].collect().toMap
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("streaming: horizon running totals — idle key evicted, restart from zero") {
    // the mapGroupsWithState twin of the r4 horizon dedup: EventTimeTimeout
    // evicts a key idle past the horizon (event time), and the key's next
    // event restarts its totals instead of continuing them. MemoryStream
    // gives batch-precise watermark control (the watermark the timeout
    // check uses is the one computed at the END of the previous batch).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double, String)]
    val q = EventStream.runningPerUserWithHorizon(spark,
        ms.toDF().toDF("user_id", "value", "ts"), horizon = "1 hour")
      .writeStream.format("memory").queryName("running_horizon")
      .outputMode("update").start()
    try {
      // batch 1: user 1 (10:00) and user 2 (10:05) start counting
      ms.addData((1L, 5.0, "2024-01-01 10:00:00"), (2L, 1.0, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // batch 2: user 2 again at 20:00 -> its totals continue (n=2) and the
      // watermark advances to 20:00 > user 1's timeout (10:00 + 1h)
      ms.addData((2L, 2.0, "2024-01-01 20:00:00"))
      q.processAllAvailable()
      // batch 3: user 2 keeps the stream moving; user 1's timeout fires
      // (eviction, no output row for user 1)
      ms.addData((2L, 3.0, "2024-01-01 20:30:00"))
      q.processAllAvailable()
      // batch 4: user 1 re-arrives AFTER eviction -> totals restart at 1
      ms.addData((1L, 7.0, "2024-01-01 20:45:00"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("running_horizon")
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSeq
    // user 1: two emissions, BOTH n_events=1 (restart, not n=2), with the
    // restarted total reflecting only the post-eviction event
    assert(rows.filter(_._1 == 1L).map(r => (r._2, r._3)).sorted ==
      Seq((1L, 5.0), (1L, 7.0)),
      s"expected user 1 to restart after eviction, got $rows")
    // user 2: uninterrupted progression 1, 2, 3
    assert(rows.filter(_._1 == 2L).map(_._2).sorted == Seq(1L, 2L, 3L))
  }

  // --- probed timeout semantics the stream_horizon oracle twin replicates
  // (each probed here; these pin them against Spark upgrades) ------------

  private def runHorizonBatches(name: String,
      batches: Seq[Seq[(Long, Double, String)]]): Seq[(Long, Long, Double)] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double, String)]
    val q = EventStream.runningPerUserWithHorizon(spark,
        ms.toDF().toDF("user_id", "value", "ts"),
        horizon = "1 hour", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[(Long, Long, Double)].collect().toSeq
  }

  test("streaming: horizon timeout fires in a NO-DATA batch before the key's next data batch") {
    // A@05:10 (timeout 06:10), B@06:50 -> watermark 06:40 > 06:10. A
    // re-arrives at 07:05 WITH data in the first batch after the watermark
    // advance: if timeouts only ran in data batches, A's own data would
    // suppress the eviction (hasTimedOut is false for keys with data) and
    // its totals would CONTINUE (n=2). Probed: an empty batch runs after
    // the watermark advances and evicts A first -> restart (n=1). The
    // stream_horizon twin's "watermark before the bucket" arithmetic
    // depends on exactly this.
    val rows = runHorizonBatches("horizon_empty_batch", Seq(
      Seq((1L, 1.0, "2024-01-01 05:10:00")),
      Seq((2L, 1.0, "2024-01-01 06:50:00")),
      Seq((1L, 1.0, "2024-01-01 07:05:00"))))
    assert(rows.filter(_._1 == 1L).map(_._2).sorted == Seq(1L, 1L),
      s"expected eviction in the no-data batch (restart at n=1), got $rows")
  }

  test("streaming: horizon timeout is STRICT (timeout == watermark survives)") {
    // A@05:00:00.000 -> timeout 06:00:00.000; B@06:10:00.000 -> watermark
    // EXACTLY 06:00:00.000. Strict `timeout < watermark` means A's state
    // survives and its 06:05 re-arrival CONTINUES (n=2). The twin's
    // `wmb > pms + horizon` comparison mirrors the polarity.
    val rows = runHorizonBatches("horizon_strict", Seq(
      Seq((1L, 1.0, "2024-01-01 05:00:00")),
      Seq((2L, 1.0, "2024-01-01 06:10:00")),
      Seq((1L, 1.0, "2024-01-01 06:05:00"))))
    assert(rows.filter(_._1 == 1L).map(_._2).sorted == Seq(1L, 2L),
      s"expected equality to survive (strict timeout), got $rows")
  }

  test("streaming: horizon watermark floors event time to milliseconds") {
    // same shape, but B carries 999 MICROseconds: if the watermark kept
    // micros it would read 06:00:00.000999 > A's 06:00:00.000 timeout and
    // strictly fire. Probed: Spark floors event times to millis
    // (EventTimeStats accumulates micros/1000), so the watermark stays at
    // 06:00:00.000 and A survives — `java.sql.Timestamp.getTime` (the
    // state's maxTs) and the twin's epoch_ms() floor the same way.
    val rows = runHorizonBatches("horizon_floor_ms", Seq(
      Seq((1L, 1.0, "2024-01-01 05:00:00")),
      Seq((2L, 1.0, "2024-01-01 06:10:00.000999")),
      Seq((1L, 1.0, "2024-01-01 06:05:00"))))
    assert(rows.filter(_._1 == 1L).map(_._2).sorted == Seq(1L, 2L),
      s"expected floor-millis watermark (A survives), got $rows")
  }

  test("streaming: replayDailyHorizon matches the twin arithmetic on a crafted eviction") {
    // end-to-end through the gate harness itself: user 1 active on day 1,
    // silent day 2 (other traffic advances the watermark past 1d+10m),
    // re-arrives day 3 -> last session = the day-3 event only. User 2
    // stays within the horizon -> totals accumulate. Values are integer-
    // valued (the gate's quantization contract).
    val ev = Seq(
      (1L, 3.0, "2024-01-01 10:00:00"),
      (2L, 5.0, "2024-01-01 11:00:00"),
      (2L, 7.0, "2024-01-02 11:30:00"), // within 1d horizon of 01-01 11:00? evicted iff wm > prev+1d
      (9L, 1.0, "2024-01-02 23:50:00"),
      (1L, 11.0, "2024-01-03 09:00:00"),
      (2L, 13.0, "2024-01-03 10:00:00"),
      (9L, 1.0, "2024-01-03 23:50:00"))
      .toDF("user_id", "value", "ts")
      .select(col("user_id"), col("value"), col("ts").cast("timestamp"))
    val got = EventStream.replayDailyHorizon(spark, ev)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // user 1: day-2 wm before day 3 = 02 23:50 - 10m = 02 23:40 > 01 10:00
    // + 1d -> evicted; day-3 session = (1 event, 11)
    assert(got(1L) == ((1L, 11L)))
    // user 2: wm before day 2 = 01 11:00 - 10m = 01 10:50, prev 01 11:00 +
    // 1d = 02 11:00 > wm -> survives; wm before day 3 = 02 23:40 < 02
    // 11:30 + 1d = 03 11:30 -> survives -> (3 events, 25)
    assert(got(2L) == ((3L, 25L)))
  }

  test("streaming: horizon running totals — cross-batch late event within the watermark delay is counted") {
    // the lateness contract of runningPerUserWithHorizon: events later than
    // the stream max but WITHIN watermarkDelay still reach the function
    // (events older than the watermark would be dropped — that divergence
    // from runningPerUser is documented on the method)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double, String)]
    val q = EventStream.runningPerUserWithHorizon(spark,
        ms.toDF().toDF("user_id", "value", "ts"),
        horizon = "1 hour", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("running_horizon_late")
      .outputMode("update").start()
    try {
      // batch 1: user 1 at 10:05 -> watermark after this batch = 09:55
      ms.addData((1L, 5.0, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // batch 2: user 2 arrives OUT OF ORDER at 10:03 — behind the stream
      // max but ahead of the 09:55 watermark, so it must be counted
      ms.addData((2L, 9.0, "2024-01-01 10:03:00"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("running_horizon_late")
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows.contains((2L, 1L, 9.0)),
      s"within-delay late event must reach the totals, got $rows")
  }
}
