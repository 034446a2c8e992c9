package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.api.{ConsumerConfig, ConsumerGroup, DrainProgress}
import graft.source.ShardedStreamLog
import graft.source.ShardedStreamLog.LogRecord
import graft.streaming.StreamOps

/** Expected content of one shard, kept by the generator. */
final case class ShardManifest(count: Long, minSeq: Long, maxSeq: Long, crcSum: Long)

/** What the app saw of one shard during the backfill drain. */
final case class Tally(count: Long, minSeq: Long, maxSeq: Long, crcSum: Long,
    decoded: Long, firstBatch: Long, lastBatch: Long) {
  def +(o: Tally): Tally = Tally(count + o.count, math.min(minSeq, o.minSeq),
    math.max(maxSeq, o.maxSeq), crcSum + o.crcSum, decoded + o.decoded,
    math.min(firstBatch, o.firstBatch), math.max(lastBatch, o.lastBatch))
}

/** `tail`: the backfill-then-tail deployment of a consumer group.
  *
  * Set-up writes a history log: two streams of `Shards` shards, keyed by
  * `hash(user_id) % Shards`, with shards `0 until SplitShards` split into
  * two children halfway through, so the lineage gate runs. The group
  * backfills it with `ConsumerGroup.drain` (each batch decoded with
  * `StreamOps.decodeJson` and checked against the generator's manifest),
  * then `ConsumerGroup.start` tails the log at a fixed trigger interval.
  *
  * Measured part: a one-thread open-loop generator appends `RatePerS`
  * records a second, each stamped with the time it was due, and a
  * dashboard thread polls `ConsumerGroup.lag()` about once a second.
  * Latency runs from a record's due time to the return of the batch
  * callback that received it; records due in the first `WarmupS` seconds
  * are not measured.
  */
object Tail {
  val Streams = Seq("events-a", "events-b")
  val Shards = 32
  val SplitShards = 4
  val HistoryPerStream = 10000
  val RatePerS = 1000
  val TriggerMs = 1000L
  val WarmupS = 6.0

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("due_ns", LongType)))

  /** Generated events rows as (partition key, JSON payload). */
  def payloads(file: Path): IndexedSeq[(String, String)] =
    Files.readAllLines(file).asScala.iterator.map { l =>
      val tab = l.indexOf('\t')
      (l.substring(0, tab), l.substring(tab + 1))
    }.toIndexedSeq

  def hash(key: String, n: Int): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), n)

  def shardName(i: Int): String = f"shard-$i%03d"

  /** Shard of a partition key once the split shards have children. */
  def openShard(key: String): String = {
    val p = hash(key, Shards)
    if (p < SplitShards) s"${shardName(p)}-${hash(key + "/split", 2)}" else shardName(p)
  }

  def payload(json: String, dueNs: Long): Array[Byte] =
    s"""{"due_ns":$dueNs,${json.drop(1)}""".getBytes(StandardCharsets.UTF_8)

  def crc(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }

  /** Progress-derived layer metrics over the given triggers. */
  def progressLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Seq("triggerExecution" -> "stream.trigger_ms", "latestOffset" -> "source.latest_offset_ms",
      "queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
      "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms")
      .map { case (k, name) => s"${name}_p50" -> Stats.median(ps.map(d(_, k))) }.toMap ++ Map(
      "source.batches" -> ps.size.toDouble,
      "stream.records_per_batch_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)))
  }

  /** Appends the history; returns its manifest, each child's parent and
    * the next sequence number of every shard.
    */
  def writeHistory(root: String, rows: IndexedSeq[(String, String)]): (
      Map[(String, String), ShardManifest], Map[(String, String), String],
      mutable.Map[(String, String), Long]) = {
    val manifest = mutable.Map.empty[(String, String), ShardManifest]
    val parent = mutable.Map.empty[(String, String), String]
    val next = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    Streams.zipWithIndex.foreach { case (stream, si) =>
      val buf = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[LogRecord]]
      def flush(): Unit = {
        buf.foreach { case (sh, rs) => ShardedStreamLog.append(root, stream, sh, rs.toSeq) }
        buf.clear()
      }
      (0 until HistoryPerStream).foreach { k =>
        if (k == HistoryPerStream / 2) {
          flush()
          (0 until SplitShards).foreach { p =>
            val children = Seq(s"${shardName(p)}-0", s"${shardName(p)}-1")
            ShardedStreamLog.splitShard(root, stream, shardName(p), children)
            children.foreach(c => parent((stream, c)) = shardName(p))
          }
        }
        // each stream starts at its own offset into the rows
        val (key, json) = rows((k + si * rows.size / 2) % rows.size)
        val shard = if (k < HistoryPerStream / 2) shardName(hash(key, Shards)) else openShard(key)
        val seq = next((stream, shard))
        next((stream, shard)) = seq + 1
        val data = payload(json, 0L)
        buf.getOrElseUpdate(shard, mutable.ArrayBuffer.empty) += LogRecord(seq, key, 0L, data)
        val m = manifest.getOrElse((stream, shard), ShardManifest(0, Long.MaxValue, -1, 0))
        manifest((stream, shard)) = ShardManifest(m.count + 1, math.min(m.minSeq, seq),
          math.max(m.maxSeq, seq), m.crcSum + crc(data))
      }
      flush()
    }
    (manifest.toMap, parent.toMap, next)
  }

  /** Checks of the backfill against the manifest; returns the checks and
    * the number of records that failed them.
    */
  def checkBackfill(manifest: Map[(String, String), ShardManifest],
      parent: Map[(String, String), String], got: Map[(String, String), Tally],
      progress: DrainProgress): (Seq[(String, Boolean, String)], Long) = {
    val bad = manifest.collect { case (k, m) if !got.get(k).exists(t =>
      t.count == m.count && t.minSeq == m.minSeq && t.maxSeq == m.maxSeq &&
        t.crcSum == m.crcSum && t.decoded == m.count) => k }.toSeq
    val extra = (got.keySet -- manifest.keySet).toSeq
    val countsOk = Streams.forall(st => progress.records.getOrElse(st, -1L) ==
      manifest.collect { case ((s, _), m) if s == st => m.count }.sum)
    val order = parent.toSeq.filterNot { case (child, p) =>
      (got.get(child), got.get((child._1, p))) match {
        case (Some(c), Some(pt)) => c.firstBatch > pt.lastBatch
        case _ => false
      }
    }
    (Seq(
      ("backfill: records match the manifest", bad.isEmpty && extra.isEmpty,
        s"mismatched shards ${bad.mkString(",")} unexpected ${extra.mkString(",")}"),
      ("backfill: DrainProgress.records match the manifest", countsOk, progress.records.toString),
      ("backfill: children delivered after their parents", order.isEmpty,
        s"out of order: ${order.mkString(",")}")),
      bad.map(manifest(_).count).sum + extra.map(got(_).count).sum)
  }

  def run(spark: SparkSession, tr: Tracer, a: Args): Outcome = {
    val root = a.work.resolve("log").toString
    val rows = payloads(a.data.resolve("payloads.tsv"))
    val delivered = new ConcurrentHashMap[(String, String, Long), Integer]()
    def deliver(rs: Array[org.apache.spark.sql.Row]): Unit = rs.foreach(r =>
      delivered.merge((r.getString(0), r.getString(1), r.getString(2).toLong), 1, (x, y) => x + y))
    val cg = new ConsumerGroup(spark, ConsumerConfig(
      app = "tail", logRoot = root, checkpointRoot = a.work.resolve("checkpoints").toString,
      scanIntervalMs = TriggerMs))
    var checks = Vector.empty[(String, Boolean, String)]
    var failed = 0L
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val lagMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val lagFailures = new java.util.concurrent.atomic.AtomicLong(0L)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val lastDelivery = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var window = (Long.MaxValue, Long.MaxValue)
    var appended = 0L

    // --- set-up: history, backfill drain, first tailed batch -----------
    val s0 = System.nanoTime()
    val (manifest, parent, next) = tr.span("log.write_history", "setup")(writeHistory(root, rows))
    val historyS = (System.nanoTime() - s0) / 1e9
    val history = manifest.values.map(_.count).sum
    val tallies = new ConcurrentHashMap[(String, String), Tally]()
    val scanned0 = ShardedStreamLog.bytesScanned.get()
    val d0 = System.nanoTime()
    val drained = cg.drain(Streams) { (df: DataFrame, batchId: Long) =>
      tr.span("consumer.callback", s"tail-drain/b$batchId") {
        val raw = df.groupBy("stream", "shard_id").agg(
          count(lit(1)), min(col("sequence_number").cast("long")),
          max(col("sequence_number").cast("long")), sum(crc32(col("data")))).collect()
        val dec = StreamOps.decodeJson(df, Schema)
          .where(Schema.fieldNames.map(f => col(f).isNotNull).reduce(_ && _))
          .select("stream", "shard_id", "sequence_number").collect()
        deliver(dec)
        val decoded = dec.groupBy(r => (r.getString(0), r.getString(1)))
          .map { case (k, v) => k -> v.length.toLong }
        raw.foreach { r =>
          val k = (r.getString(0), r.getString(1))
          tallies.merge(k, Tally(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            decoded.getOrElse(k, 0L), batchId, batchId), _ + _)
        }
      }
    }
    val drainS = (System.nanoTime() - d0) / 1e9
    val (backfillChecks, backfillFailed) =
      checkBackfill(manifest, parent, tallies.asScala.toMap, drained)
    checks ++= backfillChecks
    failed += backfillFailed

    // one record on every open shard, so the first tailed batch reads them all
    val open = for (st <- Streams; i <- 0 until Shards;
      sh <- if (i < SplitShards) Seq(s"${shardName(i)}-0", s"${shardName(i)}-1") else Seq(shardName(i)))
      yield (st, sh)
    open.zipWithIndex.foreach { case ((st, sh), i) =>
      val (key, json) = rows(i)
      ShardedStreamLog.append(root, st, sh, Seq(LogRecord(next((st, sh)), key, 0L, payload(json, 0L))))
      next((st, sh)) += 1
    }
    val primed = history + open.size
    val firstBatch = new java.util.concurrent.CountDownLatch(1)
    try {
      cg.start(Streams) { (df: DataFrame, batchId: Long) =>
        tr.span("consumer.callback", s"tail-consumer/b$batchId") {
          val got = StreamOps.decodeJson(df, Schema)
            .select("stream", "shard_id", "sequence_number", "due_ns").collect()
          val now = System.nanoTime()
          val (lo, hi) = window
          deliver(got)
          got.foreach { r =>
            val due = r.getLong(3)
            if (due >= lo && due < hi) {
              lat.add((now - due) / 1e6)
              lastDelivery.accumulateAndGet(now, math.max)
            }
          }
          if (delivered.size >= primed) firstBatch.countDown()
        }
      }
      firstBatch.await()
      val setupS = a.sessionS + (System.nanoTime() - s0) / 1e9

      // --- measured part ------------------------------------------------
      @volatile var polling = true
      val poller = new Thread(() => {
        while (polling) {
          val t0 = System.nanoTime()
          try tr.span("consumer.lag", "lag")(cg.lag())
          catch { case _: Exception => lagFailures.incrementAndGet() }
          lagMs.add((System.nanoTime() - t0) / 1e6)
          val due = t0 + 1000000000L
          while (polling && System.nanoTime() < due) Thread.sleep(20)
        }
      }, "lag-dashboard")
      poller.start()

      // open loop: record i is due at genStart + i / rate
      val before = tr.snapshot()
      val genStart = System.nanoTime()
      val w0 = genStart + (WarmupS * 1e9).toLong
      val w1 = w0 + (a.seconds * 1e9).toLong
      window = (w0, w1)
      val gapNs = 1000000000L / RatePerS
      var i = 0L
      while (genStart + i * gapNs < w1) {
        val due = genStart + i * gapNs
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        val st = Streams((i % Streams.size).toInt)
        val (key, json) = rows((i % rows.size).toInt)
        val sh = openShard(key)
        val rec = LogRecord(next((st, sh)), key, System.currentTimeMillis(), payload(json, due))
        next((st, sh)) += 1
        tr.span("log.append", "generator")(ShardedStreamLog.append(root, st, sh, Seq(rec)))
        if (due >= w0) {
          lateMs += (now - due) / 1e6
          appendMs += (System.nanoTime() - now) / 1e6
        }
        appended += 1
        i += 1
      }
      cg.processAllAvailable()
      polling = false
      poller.join()

      // --- checks --------------------------------------------------------
      val lag = cg.lag()
      val behind = lag.filter(_._2 != 0L)
      checks :+= (("lag() reads 0 on every shard after catch-up",
        lag.size == next.size && behind.isEmpty, s"${lag.size} shards, behind: ${behind.take(5)}"))
      val expected = next.iterator.flatMap { case ((st, sh), n) => (0L until n).map(s => (st, sh, s)) }.toSet
      val dup = delivered.asScala.count(_._2.intValue != 1)
      val missing = expected.count(k => !delivered.containsKey(k))
      val unexpected = delivered.keySet.asScala.count(k => !expected.contains(k))
      checks :+= (("every record arrives exactly once across backfill and tail",
        dup + missing + unexpected == 0,
        s"${expected.size} appended, $missing missing, $dup duplicated, $unexpected unexpected"))
      val errs = cg.errors()
      checks :+= (("no consumer errors", errs.isEmpty, errs.mkString("; ").take(300)))
      failed += dup + missing + unexpected + lagFailures.get()

      val ls = lat.asScala.map(_.doubleValue).toSeq
      val layers: Map[String, Double] =
        if (!tr.on) Map.empty
        else {
          val all = tr.progressEvents
          def at(p: StreamingQueryProgress) =
            tr.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
          val tailed = all.filter(p => p.name == "tail-consumer" && at(p) >= tr.at(genStart))
          val measured = tailed.filter(p => at(p) >= tr.at(w0) && at(p) < tr.at(w1))
          tr.addTriggerSpans(all)
          val spans = tr.all()
          tr.write(a.spans, spans)
          val c = tr.snapshot() - before
          val perBatch = 1.0 / math.max(1, tailed.size)
          val logBytes = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
            .filter(_.getFileName.toString == "records.tsv").map(Files.size).sum
          progressLayers(measured) ++
            Common.counterLayers(c, perBatch) ++
            Common.selfLayers(tr.selfTimes(spans.filter(_.start >= tr.at(genStart))), perBatch) ++ Map(
            "spark.tasks_per_batch" -> c.tasks * perBatch,
            "log.append_ms_p50" -> Stats.pct(appendMs.toSeq, 50),
            "log.append_ms_p99" -> Stats.pct(appendMs.toSeq, 99),
            "generator.late_ms_p99" -> Stats.pct(lateMs.toSeq, 99),
            "consumer.lag_ms_p50" -> Stats.median(lagMs.asScala.map(_.doubleValue).toSeq),
            "consumer.latency_p99_ms" -> Stats.pct(ls, 99),
            "log.append_records_per_s" -> history / historyS,
            "log.scan_amplification" ->
              (ShardedStreamLog.bytesScanned.get() - scanned0).toDouble / logBytes,
            "drain.records_per_s" -> history / drainS,
            "drain.batches" -> all.count(_.name == "tail-drain").toDouble)
        }
      Outcome(
        attempted = primed + appended + lagMs.size,
        failed = failed,
        checks = checks,
        e2e = Map(
          "setup_s" -> setupS,
          "ops_per_s" -> ls.size / ((lastDelivery.get() - w0) / 1e9),
          "latency_p50_ms" -> Stats.hd(ls, 50),
          "latency_p90_ms" -> Stats.hd(ls, 90)),
        layers = layers,
        extra = Map("latency_samples" -> ls.size, "latency_p99_ms" -> Stats.pct(ls, 99),
          "history" -> history, "appended" -> appended, "lag_calls" -> lagMs.size,
          "drain_s" -> drainS))
    } finally cg.close()
  }
}
