package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, row_number, unix_micros, xxhash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** JVM half of the benchmark. `run.py` launches one fresh JVM per run with
  * `key=value` arguments, this object drives the program only through its
  * public entry points (`graft.Catalog.queries`, `graft.Tables.registerAll`,
  * `graft.sources.NexmarkV2.ids`, `graft.streaming.Nexmark.bidsFromIds`,
  * `graft.streaming.StatefulProcessors.auctionTopK`) and writes one raw JSON
  * report; `run.py` turns the report into metrics.
  *
  * Modes:
  *   - `catalog`: register the tables, warm up with one pass over
  *     `entries` (comma list, in run order), then run `rounds` timed
  *     passes, consuming every result through [[Fingerprint]].
  *   - `drain`: after a warm-up drain of the same size, a closed loop — ids
  *     [start, start+events) through the V2 source in replay mode, `rows`
  *     per trigger, into AuctionTopK until drained.
  *   - `nexmark`: `drain`, then an open loop — the same query on the next
  *     ids, made available at `eps` per second for `seconds`, on a 1 s
  *     ProcessingTime trigger.
  */
object Main {
  private def arg(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k="))

  private def tmpDir(name: String): String =
    Paths.get(sys.props("java.io.tmpdir"), name).toString

  /** Runs one stream phase as a top-level span in traced mode. */
  private def phase[T](tracer: Option[Tracer], name: String)(body: => T): T = {
    tracer.foreach(_.enter(name, System.currentTimeMillis()))
    try body finally tracer.foreach(_.exit())
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"expected key=value, got '$s'")
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val mode = arg(a, "mode")
    val out = Paths.get(arg(a, "out"))
    val data = a.getOrElse("data", "")
    val cores = a.getOrElse("cores", "4").toInt
    val traced = a.get("trace").contains("1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$mode")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", Paths.get(sys.props("java.io.tmpdir"),
        "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Same optimizer surface as graft.Verify/graft.Bench.
    graft.plans.TopK.installRewrite(spark)
    val sessionMs = System.currentTimeMillis()

    if (mode == "catalog") graft.Tables.registerAll(spark, data)
    val registerMs = System.currentTimeMillis()
    // Warm-up runs what the timed region runs: one pass over the catalog
    // entries (their outputs are checked too), or the timed drain once, on
    // other ids, so that the JIT has compiled its per-row paths.
    lazy val names = arg(a, "entries") match {
      case "*" => graft.Catalog.queries.keys.toSeq.sorted
      case list => list.split(",").toSeq.filter(_.nonEmpty)
    }
    val warm =
      if (mode == "catalog") Catalog.run(spark, data, names, None)
      else {
        Streams.drain(spark, tmpDir("warm"), start = 0L, events = arg(a, "events").toLong,
          rows = arg(a, "rows").toLong)
        Seq.empty
      }
    val warmMs = System.currentTimeMillis()

    val tracer = if (traced) Some(Tracer.install(spark)) else None
    // Set-up ends here: the calibration probe and the memory probe's first
    // (warming) call below belong to neither set-up nor the timed region.
    // The memory probes taken around the timed passes and phases let
    // run.py report the end-to-end metrics at the reference host speed.
    val setupEndMs = System.currentTimeMillis()
    val calib0 = tracer.map(_ => Host.calibrate(spark))
    Host.memoryProbe()
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    val steal0 = Host.stealTicks()
    val gc0 = Host.gcMs()
    val t0 = System.currentTimeMillis()
    tracer.foreach(_.begin(t0))
    val body: Map[String, Any] = mode match {
      case "catalog" =>
        val rounds = (1 to arg(a, "rounds").toInt).map { _ =>
          probes += Host.memoryProbe()
          val c0 = Host.processCpuNs()
          val entries = Catalog.run(spark, data, names, tracer)
          Map("cpu_s" -> (Host.processCpuNs() - c0) / 1e9, "entries" -> entries)
        }
        probes += Host.memoryProbe()
        Map("rounds" -> rounds)
      case "drain" =>
        Map("drain" -> phase(tracer, "nexmark_drain")(
          Streams.drain(spark, tmpDir("drain"), arg(a, "start").toLong,
            arg(a, "events").toLong, arg(a, "rows").toLong)))
      case "nexmark" =>
        val start = arg(a, "start").toLong
        val events = arg(a, "events").toLong
        probes += Host.memoryProbe()
        val c0 = Host.processCpuNs()
        val drain = phase(tracer, "nexmark_drain")(
          Streams.drain(spark, tmpDir("drain"), start, events, arg(a, "rows").toLong))
        val drainCpuS = (Host.processCpuNs() - c0) / 1e9
        probes += Host.memoryProbe()
        val live = phase(tracer, "nexmark_live")(
          Streams.live(spark, tmpDir("live"), start + events, arg(a, "eps").toLong,
            arg(a, "seconds").toLong))
        probes += Host.memoryProbe()
        Map("drain" -> (drain + ("cpu_s" -> drainCpuS)), "live" -> live)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val t1 = System.currentTimeMillis()
    val gcS = (Host.gcMs() - gc0) / 1e3
    val stealS = (Host.stealTicks() - steal0) / Host.ClockTicks
    val traceBody = tracer.map { tr =>
      tr.finish(spark)
      val calib1 = Host.calibrate(spark)
      val spansPath = out.resolveSibling("spans.json")
      Files.write(spansPath, Json.write(tr.spans).getBytes(StandardCharsets.UTF_8))
      tr.counters ++ Map(
        "host.calib_s" -> (calib0.get + calib1) / 2,
        "spans_file" -> spansPath.getFileName.toString)
    }

    // Leaderboard checks run after the timed region closes.
    val checked = body.map {
      case (k, r: Map[String, Any] @unchecked) => k -> (r ++ Streams.check(spark, r))
      case other => other
    }

    val report = checked ++ Map(
      "mode" -> mode,
      "warm" -> warm,
      "probes_s" -> probes.toSeq,
      "cores" -> cores,
      "setup" -> Map(
        "session_s" -> (sessionMs - jvmStartMs) / 1e3,
        "register_s" -> (registerMs - sessionMs) / 1e3,
        "warm_s" -> (warmMs - registerMs) / 1e3,
        "setup_s" -> (setupEndMs - jvmStartMs) / 1e3),
      "timed_s" -> (t1 - t0) / 1e3,
      "gc_s" -> gcS,
      "steal_s" -> stealS,
      "trace" -> traceBody.orNull)
    Files.write(out, Json.write(report).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Order-independent result fingerprint: the row count plus the wrapping
  * (mod 2^64) sum of `xxhash64` over every column of every row. Hashing
  * every column keeps Catalyst from pruning any of them; summing through
  * `mapPartitions` (opaque to the optimizer) keeps every operator of the
  * entry's plan, a final sort included, where an aggregate on top would let
  * Catalyst drop it.
  */
object Fingerprint {
  /** Map columns are hashed as their entries sorted by key, so the hash
    * does not depend on a map's insertion order (and `xxhash64` rejects
    * maps outright).
    */
  private def hashable(c: org.apache.spark.sql.Column, t: DataType)
      : org.apache.spark.sql.Column = t match {
    case _: MapType =>
      org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.map_entries(c))
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq
    fields.find(f => hasMap(f.dataType) && !f.dataType.isInstanceOf[MapType])
      .foreach(f => throw new IllegalArgumentException(
        s"cannot fingerprint nested map column ${f.name}"))
    val cols = fields.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.select(xxhash64(cols: _*).as("h")).as[Long]
      .mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { h => n += 1; s += h }
        Iterator((n, s))
      }.collect()
    format(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def format(rows: Long, hashSum: Long): String =
    f"$rows%d:$hashSum%016x"
}

/** Catalog workloads: each entry is built, then consumed, once. */
object Catalog {
  def run(spark: SparkSession, data: String, names: Seq[String],
      tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    val queries = graft.Catalog.queries
    names.map { name =>
      val fn = queries.getOrElse(name,
        throw new IllegalArgumentException(s"no catalog entry $name"))
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      tracer.foreach(_.enter(name, System.currentTimeMillis()))
      var t1 = t0
      val result: Either[String, String] =
        try {
          val df = fn(spark, data)
          t1 = System.nanoTime()
          Right(Fingerprint.of(df))
        } catch {
          case e: Throwable =>
            Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val t2 = System.nanoTime()
      tracer.foreach(_.exit())
      spark.sparkContext.clearJobGroup()
      // Iterative entries pin blocks that would otherwise outlive them and
      // slow every later entry (the same cleanup graft.Bench does).
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      result.swap.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      Map(
        "name" -> name,
        "build_s" -> (t1 - t0) / 1e9,
        "consume_s" -> (t2 - t1) / 1e9,
        "total_s" -> (t2 - t0) / 1e9,
        "fingerprint" -> result.toOption.orNull,
        "error" -> result.swap.toOption.orNull)
    }
  }
}

/** The NEXMark AuctionTopK streaming query the two stream workloads run. */
object Streams {
  val K = 3

  private def query(spark: SparkSession, ids: DataFrame, ckpt: String,
      trigger: Trigger): StreamingQuery = {
    val sink = s"$ckpt/sink"
    graft.streaming.StatefulProcessors
      .auctionTopK(graft.streaming.Nexmark.bidsFromIds(ids), K)
      .toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$ckpt/ckpt")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // One directory per batch id, overwritten on a retry: idempotent.
        batch.write.mode("overwrite").parquet(s"$sink/batch=$id")
      }
      .start()
  }

  private def withRocks[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally spark.conf.unset(key)
  }

  private def batches(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.flatMap { p =>
      p.sources.headOption.map { s =>
        Map(
          "batch" -> p.batchId,
          "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L),
          "start" -> Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L),
          "end" -> s.endOffset.trim.toLong,
          "latest" -> Option(s.latestOffset).map(_.trim.toLong).getOrElse(-1L),
          "rows" -> s.numInputRows)
      }
    }

  private def report(q: StreamingQuery, ckpt: String, start: Long,
      total: Long, startMs: Long, endMs: Long,
      eps: Option[Long]): Map[String, Any] = Map(
    "start" -> start, "total" -> total, "eps" -> eps,
    "start_call_ms" -> startMs, "end_ms" -> endMs,
    "batches" -> batches(q),
    "error" -> q.exception.map(_.getMessage).orNull,
    "ckpt" -> ckpt)

  /** Closed loop: the whole id range is available at start; triggers run
    * back to back until it is drained.
    */
  def drain(spark: SparkSession, ckpt: String, start: Long, events: Long,
      rows: Long): Map[String, Any] = withRocks(spark) {
    val ids = graft.sources.NexmarkV2.ids(spark, start + events,
      rowsPerTrigger = Some(rows), numPartitions = 4, startOffset = start)
    val t0 = System.currentTimeMillis()
    val q = query(spark, ids, ckpt, Trigger.AvailableNow())
    if (!q.awaitTermination(150000L)) q.stop()
    report(q, ckpt, start, start + events, t0, System.currentTimeMillis(), None)
  }

  /** Open loop: ids become available at `eps` per second for `seconds`
    * seconds, on a 1 s ProcessingTime trigger; the query runs until every
    * id is committed or 10 s past the schedule's end.
    */
  def live(spark: SparkSession, ckpt: String, start: Long, eps: Long,
      seconds: Long): Map[String, Any] = withRocks(spark) {
    val total = start + eps * seconds
    val ids = graft.sources.NexmarkV2.ids(spark, total,
      eventsPerSecond = Some(eps), numPartitions = 4, startOffset = start)
    val t0 = System.currentTimeMillis()
    val q = query(spark, ids, ckpt, Trigger.ProcessingTime("1 second"))
    val deadline = t0 + (seconds + 10) * 1000L
    def committed: Long = Option(q.lastProgress)
      .flatMap(_.sources.headOption).map(_.endOffset.trim.toLong).getOrElse(start)
    while (q.isActive && committed < total && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.stop()
    val t1 = System.currentTimeMillis()
    report(q, ckpt, start, total, t0, t1, Some(eps))
  }

  /** Final leaderboard (each auction's rows from the last batch that
    * emitted it) against a batch top-k over the same ids.
    */
  def check(spark: SparkSession, r: Map[String, Any]): Map[String, Any] = {
    val start = r("start").asInstanceOf[Long]
    val ckpt = r("ckpt").asInstanceOf[String]
    val committed = r("batches").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("end").asInstanceOf[Long]).foldLeft(start)(math.max)
    if (committed <= start) return Map("leaderboard_ok" -> false)
    val bids = graft.streaming.Nexmark.bidsFromIds(
      spark.range(start, committed).toDF("id"))
    val expected = bids
      .withColumn("rank", row_number().over(Window.partitionBy("auction")
        .orderBy(col("price").desc, unix_micros(col("b_date_time")), col("bidder"))))
      .filter(col("rank") <= K)
      .select("auction", "rank", "price", "bidder")
    val emitted = spark.read.parquet(s"$ckpt/sink")
    val last = emitted
      .withColumn("last", org.apache.spark.sql.functions.max("batch")
        .over(Window.partitionBy("auction")))
      .filter(col("batch") === col("last"))
      .select("auction", "rank", "price", "bidder")
    val missing = expected.exceptAll(last).count()
    val extra = last.exceptAll(expected).count()
    Map(
      "leaderboard_rows" -> expected.count(),
      "leaderboard_missing" -> missing,
      "leaderboard_extra" -> extra,
      "leaderboard_ok" -> (missing == 0 && extra == 0))
  }
}

/** Process and host readings. */
object Host {
  /** USER_HZ of /proc/stat; 100 on every Linux build this runs on. */
  val ClockTicks = 100.0

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b =>
      t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Steal ticks summed over all CPUs (the aggregate `cpu` line's 8th
    * field), or 0 where /proc/stat is absent.
    */
  def stealTicks(): Long = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) 0L
    else {
      val line = Files.readAllLines(p).get(0).trim.split("\\s+")
      if (line.length > 8) line(8).toLong else 0L
    }
  }

  /** A dependent random walk over 64 MB held outside the Java heap (so it
    * adds nothing to the program's GC work): a single cycle through every
    * slot, shuffled once with a fixed seed.
    */
  private lazy val walk: java.nio.IntBuffer = {
    val n = 1 << 24
    val b = java.nio.ByteBuffer.allocateDirect(n * 4)
      .order(java.nio.ByteOrder.nativeOrder()).asIntBuffer()
    var i = 0
    while (i < n) { b.put(i, i); i += 1 }
    val r = new java.util.Random(7)
    i = n - 1
    while (i > 0) {
      val j = r.nextInt(i)
      val t = b.get(i); b.put(i, b.get(j)); b.put(j, t)
      i -= 1
    }
    b
  }

  /** Host memory-latency probe: seconds for 4M dependent loads of the
    * walk. It runs no program code, so its time moves only with the host.
    */
  def memoryProbe(): Double = {
    val b = walk
    val t0 = System.nanoTime()
    var p = 0
    var k = 0
    while (k < 4000000) { p = b.get(p); k += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (p < 0) throw new IllegalStateException("walk left its buffer")
    s
  }

  /** A fixed pure-compute probe (no IO, no program code): its time can
    * only move with the host.
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 2000000, 1, 4)
      .selectExpr("bit_xor(id * 2654435761) as s", "count(1) as n")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON writer for the report (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = {
    val b = new StringBuilder
    def str(s: String): Unit = {
      b += '"'
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => b ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case d: Double =>
        if (d.isNaN || d.isInfinite) b ++= "null" else b ++= d.toString
      case f: Float => go(f.toDouble)
      case n: Number => b ++= n.toString
      case t: Boolean => b ++= t.toString
      case m: scala.collection.Map[_, _] =>
        b += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) b += ','
          str(k.toString); b += ':'; go(y)
        }
        b += '}'
      case s: Iterable[_] =>
        b += '['
        s.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) b += ','
          go(y)
        }
        b += ']'
      case other => str(other.toString)
    }
    go(v)
    b.toString
  }
}
