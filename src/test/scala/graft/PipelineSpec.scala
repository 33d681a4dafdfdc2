package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dsp, Inference}

/** End-to-end audio pipeline tests over the deterministic fixture corpus
  * (SURVEY §5.4): which files produce which segments, which filter rejects
  * which fixture, overlap-flag semantics with controlled transcribers,
  * first-writer-wins metadata dedup. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base = java.nio.file.Paths.get(graft.io.FsUtil.scratchDir("graft_pipeline_spec"))
  private def wavDir = base.resolve("wavs").toString
  private def outDir = base.resolve("out").toString

  override def beforeAll(): Unit = {
    graft.fixtures.AudioSynth.writeCorpus(wavDir)
  }
  override def afterAll(): Unit = spark.stop()

  test("decode skips the garbage file, keeps the 8 valid wavs") {
    assert(Pipeline.decodeWavDir(spark, wavDir).count() == 8)
  }

  test("segmentation: expected per-file segment sets") {
    val segs = Pipeline.segmentFiles(Pipeline.decodeWavDir(spark, wavDir))
      .collect().map(s => (s.originalName, s.startMs, s.endMs)).toSet
    val byFile = segs.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byFile("long_utterance.wav") == 3)       // 40 s split 15/15/10
    assert(byFile("tone_speechlike.wav") == 2)      // merge caps at 15 s span
    assert(byFile("short_utterances.wav") == 1)     // all shorts merged
    assert(byFile("whisper_quiet.wav") == 1)        // quiet but detected
    assert(byFile("stereo_speech_441.wav") == 1)    // stereo 44.1k: downmixed+resampled
    assert(!byFile.contains("silence_only.wav"))    // VAD empty
    // long_utterance split boundaries are exact
    assert(segs.filter(_._1 == "long_utterance.wav").map(s => (s._2, s._3)) ==
      Set((507L, 15507L), (15507L, 30507L), (30507L, 40493L)))
  }

  /** ~3 min of alternating tone bursts and silences at 44.1 kHz: mono
    * decode, normalization, resampling to 16 kHz and VAD over dozens of
    * silences, with splits and greedy merges. Deterministic. */
  private def longWav: Array[Byte] = {
    val rate = 44100
    val n = 185 * rate
    val samples = new Array[Float](n)
    var i = 0
    var k = 0
    while (i < n) {
      val burstLen = ((1.5 + (k % 7) * 0.8) * rate).toInt
      val silLen = ((0.35 + 0.05 * (k % 4)) * rate).toInt
      val freq = 180.0 + 37.0 * (k % 11)
      var j = 0
      while (j < burstLen && i < n) {
        // gentle fade at the edges keeps the burst boundary unambiguous
        val env = math.min(1.0, math.min(j, burstLen - j) / (0.02 * rate))
        samples(i) = (0.35 * env * math.sin(2 * math.Pi * freq * j / rate)).toFloat
        i += 1; j += 1
      }
      i += silLen // silence = zeros
      k += 1
    }
    // one short transient owns the global peak, so post-normalization the
    // tones sit near 0.39 amplitude
    samples(1000) = 0.9f
    graft.io.WavCodec.encodeMono16(samples, rate)
  }

  private def md5Hex(samples: Array[Float]): String = {
    val buf = java.nio.ByteBuffer.allocate(samples.length * 4)
    buf.asFloatBuffer().put(samples)
    java.security.MessageDigest.getInstance("MD5").digest(buf.array())
      .map(b => f"${b & 0xff}%02x").mkString
  }

  test("segmentFiles: a 185 s 44.1 kHz file gives the frozen segments and samples") {
    import spark.implicits._
    val rows = Seq(("dir/long.wav", longWav)).toDF("path", "content")
    val got = Pipeline.segmentFiles(Pipeline.decodeWavRows(rows)).collect()
      .sortBy(_.startMs)
      .map(s => (s.startMs, s.endMs, s.padStartMs, s.padEndMs, md5Hex(s.samples)))
      .toSeq
    // (startMs, endMs, padStartMs, padEndMs, md5 of the big-endian float
    // samples), frozen literals: a VAD window decision that flips moves an
    // edge, and a drift in decode or resampling changes a hash
    assert(got == Seq(
      (0L, 11989L, 0L, 12189L, "0490179f49ff4091354caed147192e3b"),
      (12511L, 23039L, 12311L, 23239L, "ae0f2433f14ec53d7274c88153079339"),
      (23461L, 37939L, 23261L, 38139L, "5f4ef4c51874afd38e70b4bd759be1d7"),
      (38361L, 47388L, 38161L, 47588L, "32762e777e0f491f65d57645cbe53669"),
      (47911L, 61939L, 47711L, 62139L, "2df2552c3f62ddfd8428772fe39064e3"),
      (62411L, 72539L, 62211L, 72739L, "9880690adb227911a65b1d839bbecac9"),
      (72961L, 83589L, 72761L, 83789L, "3deecc8f61858e096e205167d9c38b2d"),
      (84111L, 98489L, 83911L, 98689L, "8580a15794df6f8a88a20f449864bb38"),
      (99010L, 113839L, 98810L, 114039L, "2557202a83c69580d490aa3f74fad52b"),
      (114311L, 128739L, 114111L, 128939L, "afe979c7eb61ae5259c5cc4050d24f43"),
      (129210L, 144138L, 129010L, 144338L, "399410a6f4027ebf43d70cf474acecce"),
      (144561L, 159039L, 144361L, 159239L, "010503ae0b59b7744b92197933df6751"),
      (159461L, 168488L, 159261L, 168688L, "bd0f31bf60c097e713521d8be0ab8740"),
      (169011L, 183039L, 168811L, 183239L, "ff73561b7dc135f2963368fc141875a6")))
  }

  test("audio-quality filter rejects by RMS / clipping / music ratio respectively") {
    val segs = Pipeline.segmentFiles(Pipeline.decodeWavDir(spark, wavDir))
    val ok = Pipeline.audioQuality(segs).select("originalName").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!ok.contains("whisper_quiet.wav"))      // rms ~242 < 250
    assert(!ok.contains("clipped_square.wav"))     // clipping ~96% > 1%
    assert(!ok.contains("bass_treble_music.wav"))  // music ratio ~4.6 > 2.0
    assert(ok == Set("long_utterance.wav", "tone_speechlike.wav",
                     "short_utterances.wav", "stereo_speech_441.wav"))
  }

  /** The Catalyst expressions the metrics were once computed with: the
    * parity oracle for Pipeline.measure. */
  private def catalystMetrics(segs: Dataset[Pipeline.SegmentRow]): DataFrame = {
    val musicRatioUdf = udf { (samples: Seq[Float], rate: Int) =>
      try Dsp.musicRatio(samples.toArray, rate)
      catch { case _: Exception => -1.0 }
    }
    segs.toDF()
      .withColumn("rms", sqrt(
        expr("aggregate(samples, 0D, (a, x) -> a + (x * 32767D) * (x * 32767D))") /
        size(col("samples"))))
      .withColumn("clipping_percent",
        lit(100.0) * size(expr("filter(samples, x -> abs(x) >= 0.98)")) / size(col("samples")))
      .withColumn("music_ratio", musicRatioUdf(col("samples"), col("frameRate")))
  }

  private def condition(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }

  test("measure: rms / clipping / music ratio equal the Catalyst expressions exactly") {
    val segs = Pipeline.segmentFiles(Pipeline.decodeWavDir(spark, wavDir))
    val oracle = catalystMetrics(segs)
    val typed = Pipeline.measure(segs)
    assert(typed.schema.map(f => f.name -> f.dataType) ==
      oracle.schema.map(f => f.name -> f.dataType))
    val want = oracle.collect().map { r =>
      (r.getAs[String]("originalName"), r.getAs[Long]("startMs")) ->
        (r.getAs[Double]("rms"), r.getAs[Double]("clipping_percent"),
         r.getAs[Double]("music_ratio"))
    }.toMap
    val got = typed.collect().map { m =>
      (m.originalName, m.startMs) -> (m.rms.get, m.clipping_percent.get, m.music_ratio)
    }.toMap
    assert(want.size == 10)
    // boxed Double equality: bit-exact, no tolerance
    want.foreach { case (k, v) => assert(got(k) == v, s"segment $k") }
    assert(got.keySet == want.keySet)
    // the quality stage adds no column of its own: it only filters
    assert(Pipeline.audioQuality(segs).columns.toSeq == typed.columns.toSeq)
  }

  test("measure: an empty slice divides by zero like the Catalyst expressions, per ANSI mode") {
    // ANSI is on by default in Spark 4, so the spec session takes the first branch
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    Seq(true, false).foreach { ansi =>
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      import s.implicits._
      val empty = Seq(Pipeline.SegmentRow("e.wav", 0L, 0L, 0L, 0L,
        Array.emptyFloatArray, Pipeline.TargetRate)).toDS()
      if (ansi) {
        Seq(catalystMetrics(empty), Pipeline.measure(empty).toDF()).foreach { df =>
          assert(condition(intercept[Exception](df.collect())) == Some("DIVIDE_BY_ZERO"))
        }
      } else {
        val o = catalystMetrics(empty).select("rms", "clipping_percent", "music_ratio").head()
        val m = Pipeline.measure(empty).head()
        assert(o.isNullAt(0) && o.isNullAt(1) && m.rms.isEmpty && m.clipping_percent.isEmpty)
        assert(m.music_ratio == o.getDouble(2) && m.music_ratio == 0.0)
        assert(Pipeline.audioQuality(empty).count() == 0) // NULL rms fails the filter
      }
    }
  }

  test("overlap flag: constant boundary words flag all adjacent pairs, post-filter") {
    Inference.Transcribers.register("const", () => new Inference.Transcriber {
      def transcribe(b: Seq[Inference.AsrInput]): Seq[String] = b.map(_ => "alpha beta alpha")
    })
    val segs = Pipeline.segmentFiles(Pipeline.decodeWavDir(spark, wavDir))
    val flagged = Pipeline.textQualityAndOverlap(
      Pipeline.transcribe(Pipeline.audioQuality(segs), "const"))
    val byFile = flagged.select("originalName", "startMs", "overlap_flag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .groupBy(_._1)
    // files with >=2 surviving segments: all rows flagged (lag + lead)
    assert(byFile("long_utterance.wav").forall(_._3))
    assert(byFile("tone_speechlike.wav").forall(_._3))
    // singleton files: no neighbor, not flagged
    assert(byFile("short_utterances.wav").forall(!_._3))
    assert(byFile("stereo_speech_441.wav").forall(!_._3))
  }

  test("overlap flag: distinct texts produce no flags") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    Inference.Transcribers.register("distinct", () => new Inference.Transcriber {
      def transcribe(b: Seq[Inference.AsrInput]): Seq[String] =
        b.map(_ => { val i = counter.incrementAndGet(); s"unique$i words number$i" })
    })
    val segs = Pipeline.segmentFiles(Pipeline.decodeWavDir(spark, wavDir))
    val flagged = Pipeline.textQualityAndOverlap(
      Pipeline.transcribe(Pipeline.audioQuality(segs), "distinct"))
    assert(flagged.collect().forall(!_.getAs[Boolean]("overlap_flag")))
  }

  test("full run: stub transcriber end-to-end produces the golden metadata rows") {
    val meta = Pipeline.run(spark, wavDir, outDir).collect()
    val names = meta.map(_.getAs[String]("wav_path"))
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    // stub texts drop some segments (content-addressed); the survivors are
    // stable because the corpus and the stub are deterministic
    assert(names == Set(
      "long_utterance_0015s_0030s.wav",
      "short_utterances_0000s_0009s.wav",
      "tone_speechlike_0000s_0010s.wav",
      "stereo_speech_441_0000s_0004s.wav"))
    // exported files exist and are valid wavs
    names.foreach { n =>
      val f = Paths.get(outDir, n)
      assert(Files.exists(f))
      val dec = graft.io.WavCodec.decode(Files.readAllBytes(f))
      assert(dec.sampleRate == 16000 && dec.channels == 1)
    }
    // metrics columns populated, flags boolean
    meta.foreach { r =>
      assert(r.getAs[Double]("rms") > 250.0)
      assert(r.getAs[Double]("clipping_percent") <= 1.0)
      assert(r.getAs[Double]("music_ratio") <= 2.0)
    }
  }

  test("run: no shuffle exchange carries the sample arrays") {
    val df = Pipeline.run(spark, wavDir, base.resolve("out_plan").toString)
    assert(df.collect().length == 4)
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
    // the overlap window (by file) and the metadata dedup (by wav_path)
    assert(exchanges.size == 2)
    exchanges.foreach(e => assert(!e.output.exists(_.name == "samples"), e.toString))
  }

  test("run: a failed export drops only its row and still counts as a neighbour") {
    val segs = Pipeline.segmentFiles(Pipeline.decodeWavDir(spark, wavDir)).collect()
      .filter(_.originalName == "long_utterance.wav").sortBy(_.startMs)
    // the middle segment alone links its neighbours: if it left the overlap
    // window before the flags, the first and last would become adjacent and
    // the last would be flagged
    val texts = Seq("one two link", "link three four", "link five six")
    val textOf = segs.map(s => java.util.Arrays.hashCode(s.samples)).zip(texts).toMap
    assert(textOf.size == 3)
    Inference.Transcribers.register("linked", () => new Inference.Transcriber {
      def transcribe(b: Seq[Inference.AsrInput]): Seq[String] =
        b.map(in => textOf.getOrElse(java.util.Arrays.hashCode(in.samples), "plain words here"))
    })
    def flags(out: String): Map[String, Boolean] =
      Pipeline.run(spark, wavDir, out, "linked")
        .filter(col("original_name") === "long_utterance.wav")
        .select("wav_path", "overlap_flag").collect()
        .map(r => Paths.get(r.getString(0)).getFileName.toString -> r.getBoolean(1)).toMap
    val middle = "long_utterance_0015s_0030s.wav"
    val ok = flags(base.resolve("out_export_ok").toString)
    assert(ok == Map("long_utterance_0000s_0015s.wav" -> true, middle -> true,
                     "long_utterance_0030s_0040s.wav" -> false))
    val failDir = base.resolve("out_export_fail")
    Files.createDirectories(failDir.resolve(middle)) // the write hits a directory
    assert(flags(failDir.toString) == ok - middle)
  }

  test("metadata dedup: colliding wav names keep the first writer") {
    import spark.implicits._
    val df = Seq(
      ("a.wav", 1000L, 2000L, "text one", "p/x.wav"),
      ("a.wav", 1400L, 2400L, "text two", "p/x.wav"), // same rounded name
      ("a.wav", 5000L, 9000L, "text three", "p/y.wav"))
      .toDF("originalName", "startMs", "endMs", "text", "wav_path")
      .withColumn("rms", org.apache.spark.sql.functions.lit(300.0))
      .withColumn("clippingPercent", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("musicRatio", org.apache.spark.sql.functions.lit(0.1))
      .withColumn("overlap_flag", org.apache.spark.sql.functions.lit(false))
    val out = Pipeline.metadata(df).collect()
    assert(out.length == 2)
    val x = out.find(_.getAs[String]("wav_path") == "p/x.wav").get
    assert(x.getAs[String]("text") == "text one") // first writer (startMs 1000)
  }

  test("transcribe preserves row-text alignment across micro-batches") {
    val rows = (1 to 20).map(i => s"row$i").iterator
    val out = Inference.transcribePartition[String](
      rows,
      r => Inference.AsrInput(Array(r.length.toFloat), 16000),
      (r, t) => s"$r:$t",
      "stub", batchSize = 8).toSeq
    assert(out.size == 20)
    assert(out.zipWithIndex.forall { case (s, i) => s.startsWith(s"row${i + 1}:") })
  }

  test("runCounted: per-stage counters match the fixture design (O25 summary)") {
    val out2 = base.resolve("out2").toString
    val (rows, counters) = Pipeline.runCounted(spark, wavDir, out2)
    assert(counters("segments") == 10)   // 3+2+1+1+1 speech/quiet/stereo + clip + music
    assert(counters("audio_pass") == 7)  // quiet/clipped/music rejected
    assert(counters("text_pass") == 4)   // stub text drops 3 of 7
    assert(counters("exported") == 4)
    assert(counters("metadata_rows") == 4 && rows.length == 4)
  }

  test("streaming audio ingest: two micro-batches converge to the batch-run metadata") {
    val streamSrc = base.resolve("stream_src")
    val streamWavs = base.resolve("stream_wavs").toString
    val metaPath = base.resolve("stream_meta").toString
    Files.createDirectories(streamSrc)
    // stage the corpus as (path, content) parquet rows, split into 2 batches
    import spark.implicits._
    val files = Files.list(Paths.get(wavDir)).toArray.map(_.toString).sorted
    val rows = files.map(f => (f, Files.readAllBytes(Paths.get(f))))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    // write each batch as one parquet file, moved atomically into the source
    // dir so the file stream only ever sees complete files
    def stageDirect(batch: Array[(String, Array[Byte])], sub: String): Unit = {
      val tmp = base.resolve(s"tmp_$sub").toString
      batch.toSeq.toDF("path", "content").coalesce(1).write.mode("overwrite").parquet(tmp)
      Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
        .foreach(f => Files.move(Paths.get(f), streamSrc.resolve(s"$sub.parquet")))
    }
    stageDirect(b1, "batch1")
    val q = graft.streaming.Streaming.audioIngest(
      spark, streamSrc.toString, streamWavs, metaPath, queryName = "spec_audio_ingest")
    try {
      q.processAllAvailable()
      stageDirect(b2, "batch2")
      q.processAllAvailable()
      // replay batch1 (duplicate files) — INSERT OR IGNORE must not add rows
      stageDirect(b1, "batch1_replay")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(metaPath)
      .select("original_name", "wav_path", "text", "overlap_flag")
      .collect()
      .map(r => (r.getString(0), r.getString(1).substring(r.getString(1).lastIndexOf('/') + 1),
                 r.getString(2), r.getBoolean(3))).toSet
    val batchRun = Pipeline.run(spark, wavDir, base.resolve("batch_out").toString)
      .select("original_name", "wav_path", "text", "overlap_flag")
      .collect()
      .map(r => (r.getString(0), r.getString(1).substring(r.getString(1).lastIndexOf('/') + 1),
                 r.getString(2), r.getBoolean(3))).toSet
    assert(streamed == batchRun && streamed.nonEmpty)
  }
}
