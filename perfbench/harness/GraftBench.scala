package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URLEncoder
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.functions.TextFunctions
import graft.operators.DedupOps
import graft.pipeline.{Pipeline, Uris}
import graft.sources.SourceRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}

/** One benchmark run in one JVM: set up (several times), run every op
  * once with its output dumped for the DuckDB check, then run the op list
  * in a closed loop (one client thread, next op starts when the previous
  * one ends) until `--seconds` have passed. Writes one JSON result file;
  * `perfbench/run.py` checks the dumps and prints the metrics.
  *
  * Usage: GraftBench --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --etl DIR --work DIR --out FILE --cores N [--setup-only 1]
  *
  * `--setup-only 1` stops after the set-up and writes only its time: the
  * extra cold set-ups whose median with this JVM's is `setup_s`.
  */
object GraftBench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, etl: String, work: String, out: String, cores: Int)

  /** What a check pass hands to the DuckDB side: the Spark output dumped
    * as parquet and the SQL that must reproduce it over the benchmark's
    * input. `ordered`: a query oracle over the query tables, rows compared
    * in order; `multiset`: an etl output over the etl input. */
  final case class Check(op: String, kind: String, dir: String, sql: String)

  /** Per-op context: a fresh session, the tracer, where outputs go. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val out: String, val dump: String)

  /** `stage` orders the check pass: ops of one stage may run together. */
  final case class Op(id: String, layer: String, run: Ctx => Unit, check: Ctx => Seq[Check],
      inputs: Seq[String] = Nil, sinks: Seq[String] = Nil, stage: Int = 0)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      abs(kv("data")), abs(kv("etl")), abs(kv("work")), kv("out"), kv("cores").toInt)
    val errors = ErrorCounter.install()
    // built once a session exists: the etl ops read the input schema
    lazy val (warmup, ops0) = Workloads(c)

    // set-up, cold: from JVM start through the session build and the
    // warm-up op (outside the measured passes), so class loading and
    // start-up work count
    def sinceStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(c)
    val sessionS = sinceStart
    warmup.run(new Ctx(spark.newSession(), new Tracer, s"${c.work}/warmup", ""))
    val setupS = sinceStart
    if (kv.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(c.out), Json(Map("setup_s" -> setupS, "session_s" -> sessionS)))
      // nothing of this JVM is needed any more, and its work directory is
      // removed by the caller: skip Spark's orderly stop
      Runtime.getRuntime.halt(0)
    }
    val ops = if (c.workload == "etl_cli") ops0 else new scala.util.Random(c.seed).shuffle(ops0)
    val sc = spark.sparkContext
    val jobs = new JobsListener
    sc.addSparkListener(jobs)
    val bag = new Bag
    val layer = new LayerListener(bag)
    val phases = new PhaseListener(bag)
    val streams = new StreamListener(bag)
    val tracer = new Tracer

    // check pass: every op once, outputs dumped for the DuckDB side; it is
    // also the warm-up of the measured passes
    val checkFailures = mutable.LinkedHashMap.empty[String, String]
    val checkPassT0 = System.nanoTime()
    val checks = concurrently(ops, c.cores) { op =>
      op.check(new Ctx(spark.newSession(), new Tracer, s"${c.work}/check/data", s"${c.work}/check"))
    }.flatMap {
      case (_, Right(cs)) => cs
      case (op, Left(why)) => checkFailures(op.id) = why; Nil
    }
    val checkPassS = (System.nanoTime() - checkPassT0) / 1e9

    // measured passes, closed loop
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least two passes, each op's time is its median over them; a
    // traced run alternates untraced and traced passes and ends on an
    // untraced one, so each traced pass sits between two untraced ones
    val minPasses = if (c.trace) 3 else 2
    while (passes.size < minPasses || (elapsed < c.seconds && passes.size < 40) ||
        (c.trace && passes.size % 2 == 0)) {
      val traced = c.trace && passes.size % 2 == 1
      val out = s"${c.work}/pass${passes.size}"
      if (traced) { sc.addSparkListener(layer); tracer.enabled = true }
      val opWall = mutable.LinkedHashMap.empty[String, Double]
      val opCpu = mutable.LinkedHashMap.empty[String, Double]
      val failed = mutable.LinkedHashMap.empty[String, String]
      var sinkBytes = 0L
      var sinkFiles = 0L
      ops.foreach { op =>
        spark.catalog.clearCache()
        val s = spark.newSession()
        if (traced) {
          Jvm.settle(sc, layer.balanced)
          layer.reset(); streams.reset(); tracer.totals.clear()
          s.listenerManager.register(phases)
          s.streams.addListener(streams)
          tracer.op = op.id
        }
        val (e0, se0, gc0, jit0) = (errors.errors.get, errors.schedulerErrors.get, Jvm.gcMs, Jvm.jitMs)
        val cpu0 = Jvm.cpuNs
        val w0 = System.nanoTime()
        try tracer.span("op")(op.run(new Ctx(s, tracer, out, "")))
        catch { case NonFatal(e) => failed(op.id) = cause(e) }
        val wall = (System.nanoTime() - w0) / 1e9
        opWall(op.id) = wall
        opCpu(op.id) = (Jvm.cpuNs - cpu0) / 1e9
        val (bytes, files) = op.sinks.map(d => du(s"$out/$d")).foldLeft((0L, 0L)) {
          case ((b, f), (b1, f1)) => (b + b1, f + f1)
        }
        sinkBytes += bytes
        sinkFiles += files
        if (traced) {
          val settled = Jvm.settle(sc,
            layer.balanced && bag.get("stream_started") == bag.get("stream_ended"))
          val (nBlocks, blockBytes) = layer.blocks
          perOp += Map(
            "op" -> op.id, "layer" -> op.layer, "wall_s" -> wall, "settled" -> settled,
            "spans" -> tracer.totals.toMap, "counters" -> bag.snapshot,
            "gc_s" -> (Jvm.gcMs - gc0) / 1e3, "jit_s" -> (Jvm.jitMs - jit0) / 1e3,
            "sink_bytes" -> bytes, "sink_files" -> files,
            "ckpt_blocks" -> nBlocks, "ckpt_bytes" -> blockBytes,
            "stream_batch_s" -> streams.synchronized(streams.batchMs.toList).map(_ / 1e3),
            "errors" -> (errors.errors.get - e0), "scheduler_errors" -> (errors.schedulerErrors.get - se0),
            "failed" -> failed.get(op.id))
          s.listenerManager.unregister(phases)
          s.streams.removeListener(streams)
        }
      }
      Jvm.settle(sc, jobs.jobs.get == jobs.jobsEnded.get)
      if (traced) { sc.removeSparkListener(layer); tracer.enabled = false }
      passes += Map("traced" -> traced, "wall_s" -> opWall.values.sum, "cpu_s" -> opCpu.values.sum,
        "sink_bytes" -> sinkBytes, "sink_files" -> sinkFiles,
        "op_wall_s" -> opWall, "op_cpu_s" -> opCpu, "failed" -> failed.toMap)
      deleteTree(new File(out))
    }
    val result = Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores, "trace" -> c.trace,
      "measured_s" -> elapsed, "check_pass_s" -> checkPassS, "setup_s" -> setupS, "session_s" -> sessionS,
      "ops" -> ops.map(_.id),
      "op_inputs" -> ops.map(o => o.id -> o.inputs).toMap,
      "passes" -> passes,
      "checks" -> checks.map(k => Map("op" -> k.op, "kind" -> k.kind, "dir" -> k.dir, "sql" -> k.sql)),
      "check_failures" -> checkFailures, "peak_rss_mb" -> Jvm.peakRssMb,
      "errors" -> errors.errors.get, "scheduler_errors" -> errors.schedulerErrors.get,
      "error_samples" -> errors.firstMessages.asScala.toList,
      "per_op" -> perOp,
      "spans" -> tracer.spans.map(sp => Map("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op,
        "name" -> sp.name, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs)))
    Files.writeString(Paths.get(c.out), Json(result))
    spark.stop()
  }

  /** Runs `f` on every op, `threads` at a time, like graft.Verify (one
    * session per op); ops of a later `stage` start when the earlier stage
    * is done (a read-back runs after the pipeline that writes what it
    * reads). Results keep the op order. */
  def concurrently[T](ops: Seq[Op], threads: Int)(f: Op => T): Seq[(Op, Either[String, T])] = {
    val pool = Executors.newFixedThreadPool(threads)
    try ops.groupBy(_.stage).toSeq.sortBy(_._1).flatMap { case (_, stageOps) =>
      stageOps.map { op =>
        op -> pool.submit(new Callable[Either[String, T]] {
          def call(): Either[String, T] = try Right(f(op)) catch { case NonFatal(e) => Left(cause(e)) }
        })
      }.map { case (op, fut) => op -> fut.get() }
    }
    finally pool.shutdown()
  }

  private def abs(p: String): String = new File(p).getAbsolutePath

  private def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toList.last
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}" +
      (if (root ne e) s" (root: ${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(200)})" else "")
  }

  def session(c: Conf): SparkSession = {
    val b = SparkSession.builder().appName("graftbench").master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/local")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    SourceRegistry.sparkConfigs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }

  /** Bytes and file count under a path, hidden (.crc) files excluded. */
  def du(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (if (f.getName.startsWith(".")) (0L, 0L) else (f.length, 1L))
    else f.listFiles.map(x => du(x.getPath)).foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ------------------------------------------------------------ workloads

  /** The workload's warm-up op and its op list. */
  object Workloads {
    /** Scan/join/aggregate/window queries with few jobs each: dsum
      * aggregates, inner/anti/outer joins, a window, grouping sets, a
      * percentile, string kernels. */
    val relational: Seq[String] = Seq(
      "q1_agg", "q3_join_topn", "q5_multijoin", "q7_window", "q9_antijoin", "q13_outerjoin_agg",
      "q15_rollup", "q19_percentile", "q56_string_funcs")
    /** Iterative queries with eager checkpoint pins and many jobs each:
      * incremental minhash clustering (connected components over
      * persisted labels), k-core peeling, LSH dedup. */
    val trainingIterative: Seq[String] = Seq("dedup_clusters_incr", "graph_kcore_check", "dedup_minhash")

    def apply(c: Conf): (Op, Seq[Op]) = c.workload match {
      case "relational" => (queryOp("q6_selective_agg", c.data), relational.map(queryOp(_, c.data)))
      case "training_iterative" =>
        (queryOp("q6_selective_agg", c.data), trainingIterative.map(queryOp(_, c.data)))
      case "etl_cli" => Etl(c)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Oracle-input dumps some query oracles read (see graft.Verify). */
  private def auxDumps(sql: String, s: SparkSession, d: String): Seq[(String, DataFrame)] = Seq(
    "_aux_simhash_sigs" -> (() => DedupOps
      .simhashSignatures(s.read.parquet(s"$d/documents.parquet"), "text", "doc_id")
      .select(col("id"), col("sig")).orderBy("id")),
    "_aux_semantic_cells" -> (() => SparkEntry.semanticDedupCells(s, d)
      .withColumn("unit", to_json(col("unit"))).orderBy("id")),
    "_aux_semantic_incr_cells" -> (() => SparkEntry.semanticDedupIncrCells(s, d)
      .withColumn("unit", to_json(col("unit"))).orderBy("side", "id")),
    "_aux_ivfpq_drift_cells" -> (() => SparkEntry.ivfPqDriftCellsDump(s, d).orderBy("side", "id"))
  ).collect { case (name, df) if sql.contains(s"/$name/") => name -> df() }

  /** The query tables, named as the DuckDB oracles read them. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** A query op's inputs are the tables its oracle reads. */
  private def oracleInputs(name: String): Seq[String] = SparkEntry.oracleSql.get(name).toSeq
    .flatMap(sql => Tables.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined))

  def queryOp(name: String, data: String): Op = Op(name, "entry",
    run = ctx => {
      val df = ctx.tracer.span("entry.build")(SparkEntry.queries(name)(ctx.spark, data))
      // the DataFrame's own analysis ran inside the build; the write's
      // QueryExecution (seen by the listener) only wraps the analyzed plan
      df.queryExecution.tracker.phases.get("analysis")
        .foreach(p => ctx.tracer.add("entry.analysis", p.durationMs / 1e3))
      ctx.tracer.span("entry.exec")(df.write.format("noop").mode("overwrite").save())
    },
    check = ctx => {
      val oracle = SparkEntry.oracleSql.getOrElse(name,
        throw new IllegalStateException(s"no oracle SQL for $name"))
      auxDumps(oracle, ctx.spark, data).foreach { case (aux, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.dump}/$aux")
      }
      val dir = s"${ctx.dump}/$name"
      SparkEntry.queries(name)(ctx.spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
      Seq(Check(name, "ordered", dir, oracle.replace("__GRAFT_OUT__", ctx.dump)))
    },
    inputs = oracleInputs(name))

  // ------------------------------------------------------------ etl_cli

  /** Reference-style CLI pipelines over the seeded multi-file rewrite of
    * the query tables: five sinks (parquet, csv, json, embedded delta,
    * embedded kafka) each read back by its own op, a diff leg, a curation
    * leg and one streaming leg. */
  object Etl {
    private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
    /** `sql:///` paths are URL-decoded twice by the pipeline parser, so a
      * literal `%` or `+` would not survive; the SQL below avoids both. */
    private def sqlUri(views: String, sql: String): String = {
      require(!sql.exists(ch => ch == '%' || ch == '+'), s"sql transform must avoid % and +: $sql")
      s"${views}sql:///" + enc(sql)
    }
    private val eventCols = Seq("CAST(event_id AS BIGINT) AS event_id", "CAST(user_id AS BIGINT) AS user_id",
      "event_type", "CAST(value AS DOUBLE) AS value", "props",
      "replace(substr(CAST(ts AS STRING), 1, 19), ' ', 'T') AS ts_s")
    private val eventSql = "SELECT event_id, user_id, event_type, value, props, " +
      "strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_s FROM events"

    private def pipelineOp(id: String, inputs: Seq[String], sinks: Seq[String],
        args: String => Seq[String], checks: (Ctx, String) => Seq[Check] = (_, _) => Nil): Op = {
      def run(ctx: Ctx): Unit = {
        val (p, _) = ctx.tracer.span("pipeline.parse")(Pipeline.fromArgs(args(ctx.out)))
        val t = ctx.tracer
        val traced = Pipeline(
          p.sources.map { case (n, rd) => n -> ((s: SparkSession) => t.span("sources.read")(rd(s))) },
          p.transforms.map { case (i, o, f) => (i, o, (df: DataFrame) => t.span("pipeline.transform")(f(df))) },
          p.sinks.map { case (n, wr) => n -> ((df: DataFrame) => t.span("sources.write")(wr(df))) })
        if (!t.span("pipeline.run")(traced.run(ctx.spark)))
          throw new IllegalStateException(s"$id: a sink reported failure")
      }
      Op(id, "pipeline", run, ctx => { run(ctx); checks(ctx, ctx.out) }, inputs, sinks)
    }

    private def dump(ctx: Ctx, id: String, df: DataFrame, sql: String): Seq[Check] = {
      val dir = s"${ctx.dump}/$id"
      df.write.mode("overwrite").parquet(dir)
      Seq(Check(id, "multiset", dir, sql))
    }

    private def readUri(uri: String): SparkSession => DataFrame =
      s => SourceRegistry.forUri(Uris.splitNames(uri)._2)(s).read()

    /** Reads a sink back through the sources layer and scans it. */
    private def readOp(id: String, uri: String => String, projection: Seq[String], sql: String): Op = Op(id, "sources",
      run = ctx => ctx.tracer.span("sources.read") {
        readUri(uri(ctx.out))(ctx.spark).write.format("noop").mode("overwrite").save()
      },
      check = ctx => dump(ctx, id, readUri(uri(ctx.out))(ctx.spark).selectExpr(projection: _*), sql),
      stage = 1)

    def apply(c: Conf): (Op, Seq[Op]) = {
      val in = c.etl
      val eventsSchema = enc(SparkSession.active.read.parquet(s"$in/events").schema.json)
      val stops = TextFunctions.stopwords
      def markers(l: String) = stops(l).map(w => s"'$w'").mkString("[", ", ", "]")
      val allStops = TextFunctions.allStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val warmup = pipelineOp("warmup", Seq("orders"), Nil, o => Seq(
        "--source", s"parquet://$in/orders", "--sink", s"parquet://$o/warm_orders"))
      val ops = Seq(
        pipelineOp("enrich_to_parquet", Seq("lineitem", "orders"), Seq("li_enriched"), o => Seq(
          "--source", s"li+parquet://$in/lineitem", "--source", s"ord+parquet://$in/orders",
          "--transform", sqlUri("li+sink+", "SELECT l.*, o.o_custkey, o.o_orderdate, o.o_orderpriority, " +
            "l.l_extendedprice * (1 - l.l_discount) AS revenue FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey"),
          "--sink", s"parquet://$o/li_enriched")),
        pipelineOp("orders_to_csv", Seq("orders"), Seq("orders.csv"), o => Seq(
          "--source", s"parquet://$in/orders", "--sink", s"text://$o/orders.csv")),
        pipelineOp("events_to_json", Seq("events"), Seq("events_json"), o => Seq(
          "--source", s"parquet://$in/events", "--sink", s"jsonfile://$o/events_json")),
        pipelineOp("order_totals_to_delta", Seq("lineitem"), Seq("order_totals"), o => Seq(
          "--source", s"parquet://$in/lineitem",
          "--transform", sqlUri("", "SELECT l_orderkey, COUNT(*) AS n_lines, " +
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, " +
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price FROM input GROUP BY l_orderkey"),
          "--sink", s"delta://$o/order_totals?embedded=true")),
        pipelineOp("events_to_kafka", Seq("events"), Seq("topic_events"), o => Seq(
          "--source", s"parquet://$in/events",
          "--sink", s"kafka://localhost:9092/events?serde=json&embedded=true&partitions=4&dir=$o/topic_events")),
        pipelineOp("orders_diff", Seq("orders"), Seq("orders_diff"), o => Seq(
          "--source", s"left+parquet://$in/orders",
          "--transform", sqlUri("left+right+", "SELECT o_orderkey, o_custkey, " +
            "CASE WHEN mod(o_orderkey, 10) = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus, " +
            "o_totalprice, o_orderdate, o_orderpriority FROM input WHERE mod(o_orderkey, 17) <> 5 " +
            "UNION ALL SELECT o_orderkey - 100000000 AS o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
            "o_orderdate, o_orderpriority FROM input WHERE mod(o_orderkey, 50) = 7"),
          "--transform", "left+sink+diff:///right?id=o_orderkey&handleDifferences=filter",
          "--sink", s"parquet://$o/orders_diff"),
          (ctx, o) => dump(ctx, "orders_diff", ctx.spark.read.parquet(s"$o/orders_diff"),
            s"""WITH r AS (
               | SELECT o_orderkey, o_custkey,
               |  CASE WHEN o_orderkey % 10 = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               |  o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 17 <> 5
               | UNION ALL SELECT o_orderkey - 100000000, o_custkey, o_orderstatus, o_totalprice,
               |  o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 50 = 7),
               |d AS (SELECT
               |  CASE WHEN r.o_orderkey IS NULL THEN 'D' WHEN l.o_orderkey IS NULL THEN 'I'
               |   WHEN l.o_custkey IS DISTINCT FROM r.o_custkey OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
               |    OR l.o_totalprice IS DISTINCT FROM r.o_totalprice OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
               |    OR l.o_orderpriority IS DISTINCT FROM r.o_orderpriority THEN 'C' ELSE 'N' END AS diff,
               |  coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
               |  l.o_custkey AS left_o_custkey, r.o_custkey AS right_o_custkey,
               |  l.o_orderstatus AS left_o_orderstatus, r.o_orderstatus AS right_o_orderstatus,
               |  l.o_totalprice AS left_o_totalprice, r.o_totalprice AS right_o_totalprice,
               |  l.o_orderdate AS left_o_orderdate, r.o_orderdate AS right_o_orderdate,
               |  l.o_orderpriority AS left_o_orderpriority, r.o_orderpriority AS right_o_orderpriority
               | FROM orders l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
               |SELECT * FROM d WHERE diff <> 'N'""".stripMargin)),
        pipelineOp("curation", Seq("documents"), Seq("curated"), o => Seq(
          "--source", s"parquet://$in/documents",
          "--transform", sqlUri("source+bench+", "SELECT text FROM input WHERE doc_id < 64"),
          "--transform", "source+d1+dedup://?method=minhash&text=text&id=doc_id&threshold=0.8",
          "--transform", "d1+d2+decontam:///bench?text=text&id=doc_id&n=8",
          "--transform", "d2+d3+quality://?text=text&min=0.5",
          "--transform", "d3+sink+split://?id=doc_id",
          "--sink", s"parquet://$o/curated"),
          (ctx, o) => dump(ctx, "curation", ctx.spark.read.parquet(s"$o/curated")
            .select("doc_id", "source", "n_chars", "lang", "quality", "split"),
            curationSql(markers, allStops))),
        pipelineOp("events_stream_to_kafka", Seq("events"), Seq("topic_stream"), o => Seq(
          "--source", s"parquet-stream://$in/events?maxFilesPerTrigger=4&schema=$eventsSchema",
          "--sink", s"kafka://localhost:9092/stream?serde=json&embedded=true&partitions=4" +
            s"&dir=$o/topic_stream&checkpointLocation=$o/stream_ckpt"),
          (ctx, o) => dump(ctx, "events_stream_to_kafka",
            readUri(s"kafka://localhost:9092/stream?serde=json&embedded=true&dir=$o/topic_stream")(ctx.spark)
              .selectExpr(eventCols: _*), eventSql)),
        readOp("read_parquet", o => s"parquet://$o/li_enriched", Seq("*"),
          "SELECT l.*, o.o_custkey, o.o_orderdate, o.o_orderpriority, " +
            "l.l_extendedprice * (1 - l.l_discount) AS revenue FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"),
        readOp("read_csv", o => s"text://$o/orders.csv",
          Seq("CAST(o_orderkey AS BIGINT) AS o_orderkey", "CAST(o_custkey AS BIGINT) AS o_custkey",
            "o_orderstatus", "CAST(o_totalprice AS DOUBLE) AS o_totalprice",
            "CAST(o_orderdate AS DATE) AS o_orderdate", "o_orderpriority"),
          "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate, " +
            "o_orderpriority FROM orders"),
        readOp("read_json", o => s"jsonfile://$o/events_json", eventCols, eventSql),
        readOp("read_delta", o => s"delta://$o/order_totals?embedded=true", Seq("*"),
          "SELECT l_orderkey, COUNT(*) AS n_lines, " +
            "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS qty, " +
            "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS price " +
            "FROM lineitem GROUP BY l_orderkey"),
        readOp("read_kafka", o => s"kafka://localhost:9092/events?serde=json&embedded=true&dir=$o/topic_events",
          eventCols, eventSql))
      (warmup, ops)
    }

    /** DuckDB twin of the curation leg: minhash dedup at Jaccard 0.8 over
      * word 3-shingles (drop the larger id of each pair), 8-gram
      * decontamination against docs < 64, quality score and language,
      * md5 split. Mirrors the SQL idiom of the `pipeline_curation` oracle;
      * the exact pair set comes from a shared-shingle equi-join
      * (|A ∩ B| by count, |A ∪ B| = |A| + |B| - |A ∩ B|). */
    private def curationSql(markers: String => String, allStops: String): String = {
      val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
      val toks = s"(CASE WHEN len($norm) = 0 THEN []::VARCHAR[] ELSE string_split($norm, ' ') END)"
      def shingles(t: String, n: Int) =
        s"(CASE WHEN len($t) <= $n THEN [array_to_string($t, ' ')] " +
          s"ELSE list_transform(range(1, len($t)-${n - 2}), i -> array_to_string($t[i:i+${n - 1}], ' ')) END)"
      def sL(l: String) = s"len(list_intersect(list_distinct(tk), ${markers(l)}))"
      val langs = Seq("en", "de", "es", "fr", "zh")
      s"""WITH t AS MATERIALIZED (SELECT doc_id, source, n_chars, $norm AS norm, $toks AS tk FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, list_distinct(${shingles("tk", 3)}) AS s FROM t),
         |g AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS k
         |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |drops AS (SELECT DISTINCT i.b_id AS doc_id FROM inter i
         |  JOIN sh na ON na.doc_id = i.a_id JOIN sh nb ON nb.doc_id = i.b_id
         |  WHERE i.k::DOUBLE / (len(na.s) + len(nb.s) - i.k) >= 0.8),
         |d1 AS (SELECT * FROM t WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         |b AS (SELECT DISTINCT unnest(list_distinct(${shingles("tk", 8)})) AS s FROM t WHERE doc_id < 64),
         |dsh AS (SELECT doc_id, unnest(list_distinct(${shingles("tk", 8)})) AS s FROM d1),
         |d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM dsh JOIN b USING (s))),
         |q AS (SELECT doc_id, source, n_chars, tk,
         |  len(norm) AS nc, len(norm) - len(regexp_replace(norm, '[^a-z0-9\\sà-ÿ一-鿿]', '', 'g')) AS pc,
         |  len(list_filter(tk, x -> list_contains($allStops, x))) AS shits,
         |  ${langs.map(l => s"${sL(l)} AS s_$l").mkString(", ")}
         |  FROM d2),
         |s AS (SELECT *, 0.4 * least(len(tk)/50.0, 1.0)
         |    + 0.3 * (1.0 - (CASE WHEN nc = 0 THEN 0.0 ELSE pc::DOUBLE/nc END))
         |    + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0 ELSE shits::DOUBLE/len(tk) END) AS quality,
         |  greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS best FROM q)
         |SELECT doc_id, source, n_chars,
         |  CASE ${langs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'").mkString(" ")} ELSE 'und' END AS lang,
         |  quality,
         |  CASE WHEN substr(md5(doc_id::VARCHAR),1,1) <= 'b' THEN 'train'
         |       WHEN substr(md5(doc_id::VARCHAR),1,1) <= 'd' THEN 'val' ELSE 'test' END AS split
         |FROM s WHERE quality >= 0.5""".stripMargin
    }
  }
}
