package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{StatefulParquetSink, VecSink}
import graft.sources.{KafkaShim, RangeSource, StatefulSource}

/** Sources and sinks, incl. the Kafka-shaped shim's offset semantics
  * (reference: the sources/ and sinks/ modules, malstrom-kafka/src/). */
class SourcesSinksSpec extends AnyFunSuite with SparkFixture {

  test("RangeSource distributes the iterator across partitions") {
    val df = RangeSource(100, numPartitions = 4).load(spark)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
  }

  test("RangeSource streams the same finite iterator via loadStream") {
    val q = RangeSource(20, numPartitions = 2).loadStream(spark)
      .writeStream.format("memory").queryName("range_stream")
      .outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen(): Long = spark.table("range_stream").count()
      while (seen() < 20 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        if (seen() < 20) Thread.sleep(100)
      }
      val got = spark.table("range_stream").select("i").collect()
        .map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 20L), s"stream emitted ${got.length} rows")
    } finally q.stop()
  }

  test("StatefulSource resumes strictly after the stored offset") {
    val src = StatefulSource(s"$sf001/documents.parquet", "doc_id", 490L)
    val ids = src.load(spark).select("doc_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(_ > 490L))
  }

  test("VecSink collects and clears") {
    val sink = new VecSink
    sink.write(spark.range(5).toDF("i"))
    assert(sink.rows.size == 5)
    sink.clear()
    assert(sink.rows.isEmpty)
  }

  test("StatefulParquetSink is idempotent per epoch, advances on new epoch") {
    val dir = tempDir("graft_sink_").toString + "/t"
    val sink = StatefulParquetSink(dir)
    sink.write(spark.range(3).toDF("i"), epoch = 1L)
    assert(sink.committedEpoch.contains(1L))
    sink.write(spark.range(99).toDF("i"), epoch = 1L) // replay → ignored
    assert(spark.read.parquet(dir).count() == 3)
    sink.write(spark.range(7).toDF("i"), epoch = 2L) // new epoch → applied
    assert(spark.read.parquet(dir).count() == 7)
  }

  test("KafkaShim assigns dense per-partition offsets and honors start offsets") {
    import spark.implicits._
    val root = tempDir("graft_kafka_").toString
    val df = (0L until 20L).map(i => (i % 3, s"k$i", s"v$i", i))
      .toDF("partition", "key", "value", "seq")
      .withColumn("ts", F.timestamp_seconds(F.col("seq")))
    KafkaShim.write(df, root, "t1", orderCols = Seq("seq"))

    val all = KafkaShim.read(spark, root, "t1")
    assert(all.count() == 20)
    // offsets dense from 0 per partition
    val perPart = all.groupBy("partition")
      .agg(F.min("offset").as("lo"), F.max("offset").as("hi"), F.count(F.lit(1)).as("n"))
      .collect()
    perPart.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(3) - 1)
    }
    // resume from offsets
    val resumed = KafkaShim.read(spark, root, "t1", Map(0 -> 3L, 1 -> 100L))
    val p0 = resumed.filter(F.col("partition") === 0).select(F.min("offset")).head().getLong(0)
    assert(p0 == 3L)
    assert(resumed.filter(F.col("partition") === 1).count() == 0)
    // end offsets
    val ends = KafkaShim.endOffsets(spark, root, "t1").collect()
    assert(ends.length == 3)
  }

  test("KafkaShim.readAuto dispatches: shim fallback without the kafka jar") {
    import spark.implicits._
    // no spark-sql-kafka jar ships in this container
    assert(!KafkaShim.kafkaJarPresent)
    val root = tempDir("graft_kauto_").toString
    val df = (0L until 6L).map(i => (i % 2, s"k$i", s"v$i", i))
      .toDF("partition", "key", "value", "seq")
      .withColumn("ts", F.timestamp_seconds(F.col("seq")))
    KafkaShim.write(df, root, "td", orderCols = Seq("seq"))
    // even with a broker address, jar-absent → file shim handles the read
    val viaAuto = KafkaShim.readAuto(spark, root, "td",
      Map(0 -> 1L), bootstrapServers = Some("broker:9092"))
    assert(viaAuto.filter(F.col("partition") === 0).select(F.min("offset"))
      .head().getLong(0) == 1L)
    // the broker-path startingOffsets JSON carries the same inclusive map
    assert(KafkaShim.brokerStartingOffsetsJson("td", Map.empty) == "earliest")
    assert(KafkaShim.brokerStartingOffsetsJson("td", Map(1 -> 5L, 0 -> 3L)) ==
      """{"td": {"0": 3, "1": 5}}""")
  }

  test("KafkaShim append continues offsets after each partition's high-water mark") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tempDir("graft_kappend_").toString
    def batch(lo: Long, hi: Long) = (lo until hi).map(i => (i % 2, s"k$i", s"v$i", i))
      .toDF("partition", "key", "value", "seq")
      .withColumn("ts", F.timestamp_seconds(F.col("seq")))
    KafkaShim.write(batch(0, 10), root, "ta", orderCols = Seq("seq"))
    KafkaShim.write(batch(10, 16), root, "ta", orderCols = Seq("seq"), mode = SaveMode.Append)
    val all = KafkaShim.read(spark, root, "ta")
    assert(all.count() == 16)
    val perPart = all.groupBy("partition")
      .agg(F.min("offset").as("lo"), F.max("offset").as("hi"),
        F.countDistinct("offset").as("d"), F.count(F.lit(1)).as("n"))
      .collect()
    perPart.foreach { r =>
      // offsets stay dense and unique across the two writes
      assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(4) - 1 && r.getLong(3) == r.getLong(4))
    }
  }

  test("multimodal plumbing: binary payload survives, features deterministic") {
    import graft.multimodal.Multimodal
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(20)
    val media = Multimodal.attachMedia(docs)
    assert(media.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 20)
    assert(feats.forall(f => f.n_bytes > 0 && f.feature > f.n_bytes))
    // batch shape: a batchSize of 7 over 20 single-partition records must
    // produce identical output to the default (batching is transparent)
    val single = Multimodal.extractFeatures(media.coalesce(1), batchSize = 7)
      .collect().sortBy(_.doc_id).toSeq
    assert(single == feats.sortBy(_.doc_id).toSeq)
  }

  test("multimodal decoder is pluggable: a custom codec replaces the stub") {
    import graft.multimodal.{MediaDecoder, Multimodal}
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(10)
    val media = Multimodal.attachMedia(docs)
    // A "real" codec stand-in: constant feature, proving the per-partition
    // factory + batch path carry a user decoder end to end.
    class ConstDecoder extends MediaDecoder {
      def decodeBatch(batch: Seq[Multimodal.MediaRecord]): Seq[Multimodal.MediaFeatures] =
        batch.map(r => Multimodal.MediaFeatures(
          r.doc_id, r.media.length.toLong, r.media_type, r.width, r.height, 42.0))
    }
    val feats = Multimodal.extractFeatures(media, batchSize = 3,
      decoderFactory = () => new ConstDecoder).collect()
    assert(feats.length == 10 && feats.forall(_.feature == 42.0))
  }

  test("ImageIoDecoder really decodes a generated PNG (dims, luma, resize, drops non-images)") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import graft.multimodal.{ImageIoDecoder, Multimodal}
    import spark.implicits._

    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // white 8x6, black 4x4, mid-gray 10x2, and one non-image payload
    val recs = Seq(
      Multimodal.MediaRecord(1L, png(8, 6, 0xffffff), "image/png", 8, 6),
      Multimodal.MediaRecord(2L, png(4, 4, 0x000000), "image/png", 4, 4),
      Multimodal.MediaRecord(3L, png(10, 2, 0x808080), "image/png", 10, 2),
      Multimodal.MediaRecord(4L, "not an image".getBytes("UTF-8"), "text/plain", 0, 0))
    val media = recs.toDF()

    val feats = Multimodal.extractFeatures(media,
        decoderFactory = () => new ImageIoDecoder())
      .collect().sortBy(_.doc_id)
    // the undecodable payload is dropped; dims come from the DECODE, luma
    // from the PIXELS (white=1, black=0, 0x80 = 128/255)
    assert(feats.map(_.doc_id).toSeq == Seq(1L, 2L, 3L))
    assert(feats(0).width == 8 && feats(0).height == 6 && math.abs(feats(0).feature - 1.0) < 1e-9)
    assert(feats(1).width == 4 && feats(1).height == 4 && math.abs(feats(1).feature) < 1e-9)
    assert(math.abs(feats(2).feature - 128.0 / 255.0) < 1e-9)

    // real resize: output dims are the TARGET's, constant-color luma is
    // preserved by bilinear interpolation
    val resized = Multimodal.extractFeatures(media,
        decoderFactory = () => new ImageIoDecoder(resizeTo = Some((3, 5))))
      .collect().sortBy(_.doc_id)
    assert(resized.forall(f => f.width == 3 && f.height == 5))
    assert(math.abs(resized(2).feature - 128.0 / 255.0) < 1e-9)

    // JPEG path (lossy, so assert dims exactly and luma approximately):
    // the decoder is format-agnostic over everything ImageIO registers
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val jrec = Seq(Multimodal.MediaRecord(9L, jpeg(6, 4, 0x808080), "image/jpeg", 6, 4)).toDF()
    val jf = Multimodal.extractFeatures(jrec,
        decoderFactory = () => new ImageIoDecoder()).collect()
    assert(jf.length == 1 && jf(0).width == 6 && jf(0).height == 4)
    assert(math.abs(jf(0).feature - 128.0 / 255.0) < 0.02) // lossy tolerance

    // TRUNCATED image: the PNG codec RECOGNIZES the header and then
    // throws IIOException mid-read (unlike the text payload above, where
    // ImageIO.read returns null). The documented contract is the same —
    // drop the record, never fail the task.
    val truncated = png(8, 6, 0xffffff).take(40)
    val trec = Seq(
      Multimodal.MediaRecord(10L, truncated, "image/png", 8, 6),
      Multimodal.MediaRecord(11L, png(4, 4, 0x000000), "image/png", 4, 4)).toDF()
    val tf = Multimodal.extractFeatures(trec,
        decoderFactory = () => new ImageIoDecoder()).collect()
    assert(tf.map(_.doc_id).toSeq == Seq(11L)) // corrupt dropped, good kept
  }

  test("dHash/imageNearDups: exact copies at Hamming 0, edits nearby, unrelated apart") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import graft.multimodal.Multimodal
    import spark.implicits._
    def noisePng(seed: Int, w: Int = 16, h: Int = 12, edit: Boolean = false): Array[Byte] = {
      val r = new scala.util.Random(seed)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = r.nextInt(256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (edit) img.setRGB(0, 0, 0xffffff) // one-pixel edit
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val media = Seq(
      (1L, noisePng(100)), (2L, noisePng(100)),          // exact copies
      (3L, noisePng(200)), (4L, noisePng(200, edit = true)), // near pair
      (5L, noisePng(300)), (6L, noisePng(400))           // unrelated
    ).toDF("doc_id", "media")
    // dHash is deterministic and byte-stable
    val h1 = Multimodal.dHash(media).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Multimodal.dHash(media).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2, "dHash not deterministic")
    assert(h1(1L) == h1(2L), "exact copies must hash identically")
    val pairs = Multimodal.imageNearDups(media, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 2L)), s"exact pair missed: $pairs")
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 0)
    assert(pairSet.contains((3L, 4L)), s"edited near-pair missed: $pairs")
    assert(!pairSet.exists(p => Set(5L, 6L).contains(p._1) && Set(5L, 6L).contains(p._2)),
      s"unrelated images paired: $pairs")
    // undecodable payloads drop rather than failing the job
    val dirty = Seq((9L, "not a png".getBytes("UTF-8"))).toDF("doc_id", "media")
    assert(Multimodal.dHash(dirty).count() == 0L)
  }

  test("audioFingerprint/audioNearDups: copies, edits, loudness invariance, drops") {
    import java.io.ByteArrayOutputStream
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    import graft.multimodal.Multimodal
    import spark.implicits._
    // amplitude-modulated clip: per-window envelope from a seeded RNG
    // (a pure tone's flat envelope carries no gradient signal)
    def clip(seed: Int, scale: Double = 1.0, editWindow: Int = -1): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val nWin = 65; val perWin = 24; val n = nWin * perWin
      val env = Array.fill(nWin)(0.1 + rnd.nextDouble() * 0.7)
      if (editWindow >= 0) env(editWindow) = math.min(0.9, env(editWindow) + 0.1)
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val v = scale * env(i / perWin) * math.sin(2 * math.Pi * 300 * i / 8000.0)
        val s = (v * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val out = new ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val media = Seq(
      (1L, clip(100)), (2L, clip(100)),                 // exact copies
      (3L, clip(200)), (4L, clip(200, editWindow = 10)), // one-window edit
      (5L, clip(200, scale = 0.5)),                     // loudness-scaled copy
      (6L, clip(300)), (7L, clip(400)),                 // unrelated
      (9L, "definitely not audio".getBytes("UTF-8"))    // undecodable
    ).toDF("doc_id", "media")
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!fp.contains(9L), "undecodable payload must drop")
    assert(fp(1L) == fp(2L), "exact copies must fingerprint identically")
    // loudness invariance: scaling every sample scales every window
    // energy together — the gradient bits are unchanged
    assert(fp(5L) == fp(3L), "loudness-scaled copy must fingerprint identically")
    val pairs = Multimodal.audioNearDups(media, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact pair missed: $pairs")
    assert(pairs.contains((3L, 4L)), s"edited near-pair missed: $pairs")
    assert(pairs.contains((3L, 5L)), s"scaled copy must pair with its original: $pairs")
    assert(!pairs.exists(p => Set(6L, 7L).contains(p._1) && Set(6L, 7L).contains(p._2)),
      s"unrelated clips paired: $pairs")
  }

  test("attachPngMedia encodes real PNGs that the real decoder round-trips (gate-query path)") {
    import graft.multimodal.{ImageIoDecoder, Multimodal}
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val media = Multimodal.attachPngMedia(docs)
    val n = docs.count()
    // Every generated payload is a genuine PNG: a real decode keeps ALL
    // rows (the decoder drops undecodables) and reads back the generated
    // dimensions from the pixels, not the metadata columns.
    val feats = Multimodal.extractFeatures(media,
        decoderFactory = () => new ImageIoDecoder()).collect()
    assert(feats.length == n, s"real decode dropped ${n - feats.length} of $n generated PNGs")
    val gen = media.collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    assert(feats.forall(f => gen(f.doc_id) == ((f.width, f.height))),
      "decoded dimensions diverge from the encoded image")
    assert(feats.forall(f => f.feature >= 0.0 && f.feature <= 1.0))
    // The registered gate's shared decode STREAM (staged for the r19
    // oracle) resizes to 4x4 and keeps every row; the gate itself is the
    // luma-bucket retention fold over it (oracle-replayed in DuckDB).
    val q = SparkEntry.pngDecodeStream(spark, sf001).collect()
    assert(q.length == n && q.forall(r => r.getInt(2) == 4 && r.getInt(3) == 4))
    val g = SparkEntry.queries("q_multimodal_decode")(spark, sf001).collect()
    assert(g.map(_.getLong(1)).sum == n, "retention fold must cover every decoded image")
  }

  test("WavDecoder really decodes a generated WAV (rate, channels, RMS, duration, drops non-audio)") {
    import java.io.ByteArrayOutputStream
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    import graft.multimodal.{Multimodal, WavDecoder}
    import spark.implicits._

    // 0.5s of a 440 Hz sine at amplitude 0.5, 16-bit signed mono 8 kHz
    def sineWav(rate: Float, seconds: Double, hz: Double, amp: Double): Array[Byte] = {
      val n = (rate * seconds).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (amp * math.sin(2 * math.Pi * hz * i / rate) * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val out = new ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val wav = sineWav(8000f, 0.5, 440, 0.5)
    val recs = Seq(
      Multimodal.MediaRecord(1L, wav, "audio/wav", 0, 0),
      Multimodal.MediaRecord(2L, wav.take(30), "audio/wav", 0, 0), // truncated header
      Multimodal.MediaRecord(3L, "not audio at all".getBytes("UTF-8"), "text/plain", 0, 0))

    val feats = Multimodal.extractFeatures(recs.toDF(),
        decoderFactory = () => new WavDecoder()).collect().sortBy(_.doc_id)
    // undecodables dropped; rate/channels from the HEADER, RMS from the
    // SAMPLES (sine RMS = amp / sqrt(2))
    assert(feats.map(_.doc_id).toSeq == Seq(1L))
    assert(feats(0).width == 8000 && feats(0).height == 1)
    assert(math.abs(feats(0).feature - 0.5 / math.sqrt(2)) < 1e-3)

    val dec = new WavDecoder()
    assert(math.abs(dec.durationSeconds(recs.head).get - 0.5) < 1e-6)
    assert(dec.durationSeconds(recs(2)).isEmpty)
  }

  test("AviMjpegDecoder really decodes a generated MJPEG-AVI (frames, dims, luma, drops non-video)") {
    import java.awt.image.BufferedImage
    import graft.multimodal.{AviMjpegDecoder, Multimodal}
    import spark.implicits._

    // three 8x6 frames at distinct gray levels -> distinct per-frame lumas
    def jpegFrame(gray: Int): Array[Byte] = {
      val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val grays = Seq(32, 128, 224)
    val frames = grays.map(jpegFrame)
    val avi = AviMjpegDecoder.write(frames)
    val recs = Seq(
      Multimodal.MediaRecord(1L, avi, "video/avi", 0, 0),
      Multimodal.MediaRecord(2L, avi.take(40), "video/avi", 0, 0),  // truncated container
      Multimodal.MediaRecord(3L, "definitely not a video".getBytes("UTF-8"), "text/plain", 0, 0))

    val feats = Multimodal.extractFeatures(recs.toDF(),
        decoderFactory = () => new AviMjpegDecoder()).collect().sortBy(_.doc_id)
    assert(feats.map(_.doc_id).toSeq == Seq(1L), "undecodables must drop, the AVI must decode")
    assert(feats(0).width == 8 && feats(0).height == 6)
    // feature = mean over frames of mean luma; JPEG is lossy but flat
    // gray compresses near-exactly, so a loose tolerance suffices
    val expected = grays.map(_ / 255.0).sum / grays.length
    assert(math.abs(feats(0).feature - expected) < 0.02,
      s"mean frame luma ${feats(0).feature} != $expected")

    val dec = new AviMjpegDecoder()
    assert(dec.frameCount(recs.head).contains(3))
    assert(dec.frameCount(recs(2)).isEmpty, "non-RIFF payload must not count frames")
    // container order survives: per-frame lumas are monotone in gray level
    val lumas = AviMjpegDecoder.framePayloads(avi).get.map { f =>
      graft.multimodal.ImageIoDecoder.meanLuma(
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f)))
    }
    assert(lumas == lumas.sorted && lumas.distinct.length == 3)
  }

  test("multimodal resize and frame-sample stubs transform metadata and explode frames") {
    import graft.multimodal.Multimodal
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(10)
    val media = Multimodal.attachMedia(docs)
    val resized = Multimodal.resizeStub(media, 64, 48)
    val r = resized.select("width", "height").distinct().collect()
    assert(r.length == 1 && r(0).getInt(0) == 64 && r(0).getInt(1) == 48)
    val frames = Multimodal.frameSampleStub(media, frameBytes = 100, everyN = 1)
    val counts = frames.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ >= 1))
    // a ~500-byte doc at 100 bytes/frame yields multiple frames
    assert(counts.max > 1)
  }

  test("FileSource reads csv and jsonl with explicit schemas; streaming demands a schema") {
    import graft.sources.FileSource
    val dir = tempDir("filesource")
    java.nio.file.Files.writeString(dir.resolve("part.csv"),
      "id,name,score\n1,alpha,0.5\n2,beta,1.5\n")
    val csv = FileSource(dir.toString, "csv",
      Some("id BIGINT, name STRING, score DOUBLE"),
      Map("header" -> "true")).load(spark).collect().sortBy(_.getLong(0))
    assert(csv.length == 2 && csv(0).getString(1) == "alpha" && csv(1).getDouble(2) == 1.5)

    val jdir = tempDir("filesource_json")
    java.nio.file.Files.writeString(jdir.resolve("part.jsonl"),
      """{"id":1,"name":"alpha"}""" + "\n" + """{"id":2,"name":"beta"}""" + "\n")
    val json = FileSource(jdir.toString, "json", Some("id BIGINT, name STRING"))
      .load(spark).collect().sortBy(_.getLong(0))
    assert(json.length == 2 && json(1).getString(1) == "beta")

    // streaming without a schema must fail fast, not silently infer
    intercept[IllegalArgumentException] {
      FileSource(jdir.toString, "json").loadStream(spark)
    }
    // with a schema it builds a real streaming source
    assert(FileSource(jdir.toString, "json", Some("id BIGINT, name STRING"))
      .loadStream(spark).isStreaming)
  }

  test("brokerStartingOffsetsJson matches the spark-sql-kafka documented shape") {
    import graft.sources.KafkaShim
    // The connector's `startingOffsets` option documents the JSON as
    // {"topicA":{"0":23,"1":-2}} — topic -> (partition AS STRING -> long
    // offset), with -2/-1 as earliest/latest sentinels, or the bare
    // strings "earliest"/"latest". readAuto feeds this function straight
    // into option("startingOffsets", ...), so the shape is load-bearing:
    // pin it exactly.
    assert(KafkaShim.brokerStartingOffsetsJson("t", Map.empty) == "earliest")
    val json = KafkaShim.brokerStartingOffsetsJson("clicks", Map(1 -> 42L, 0 -> 7L))
    assert(json == """{"clicks": {"0": 7, "1": 42}}""") // partitions sorted, keys quoted
    // Must parse as JSON with STRING partition keys and integral offsets
    // (the connector parses it with Jackson; a bare-int key or trailing
    // comma would fail at the broker path only — too late to catch).
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    assert(root.isObject && root.has("clicks"))
    val parts = root.get("clicks")
    assert(parts.fieldNames().asScala.toSet == Set("0", "1"))
    assert(parts.get("0").isIntegralNumber && parts.get("0").longValue() == 7L)
    assert(parts.get("1").longValue() == 42L)
    // Kafka sentinel offsets pass through untouched.
    val sentinels = KafkaShim.brokerStartingOffsetsJson("t", Map(0 -> -2L, 1 -> -1L))
    assert(mapper.readTree(sentinels).get("t").get("0").longValue() == -2L)
  }
}
