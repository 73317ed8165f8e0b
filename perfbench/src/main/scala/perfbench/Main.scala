package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** JVM side of the benchmark; `run.py` launches it and reads its result.
  *
  *  - `--mode setup` builds the session, prints READY and exits: one set-up
  *    sample.
  *  - `--mode run` prints READY, then runs the workload's queries: one cold
  *    pass, steady passes for `--seconds` (with `--trace 1`, alternately
  *    untraced and traced), then one check pass under gate settings whose
  *    outputs `run.py` compares with the DuckDB oracle. Raw figures go to
  *    `<work>/result.json`, spans to `<work>/trace.json`.
  */
object Main {
  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, cores: Int, failQuery: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("mode"), m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "1").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("data", ""), Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt, m.getOrElse("fail-query", ""))
  }

  /** The bench's deployment posture (graft.Bench's session) with every
    * scratch path inside the run's work dir. */
  def session(args: Args): SparkSession = {
    val w = args.work
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", w.resolve("local").toString)
      .config("spark.sql.warehouse.dir", w.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("graft.sums.exact", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args)
    println("READY")
    System.out.flush()
    if (args.mode == "run") {
      new Runner(spark, args).run()
      spark.stop()
    }
  }

  /** VmHWM of this JVM in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)
}

final class Runner(spark: SparkSession, args: Main.Args) {
  private val ops: Seq[Op] = Workloads.all.getOrElse(args.workload,
    sys.error(s"unknown workload ${args.workload}"))
  private val out = args.work.resolve("out")
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val sc = spark.sparkContext

  // The banded block runs on its own session: SQL conf is per session, so
  // nothing flips a knob on the shared one.
  private lazy val banded = {
    val s = spark.newSession()
    s.conf.set("graft.sums.exact", "false")
    s.conf.set("graft.sim.exact", "false")
    s
  }
  private lazy val gate = {
    val s = spark.newSession()
    s.conf.set("graft.sums.exact", "true")
    s.conf.set("graft.sim.exact", "true")
    s
  }

  private var attempted = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private val traces = scala.collection.mutable.ArrayBuffer.empty[Seq[OpTrace]]
  private val rng = new scala.util.Random(args.seed)

  private def build(s: SparkSession, op: Op): DataFrame = {
    if (op.name == args.failQuery) throw new IllegalStateException(s"forced failure of ${op.name}")
    val q = graft.SparkEntry.queries.getOrElse(op.name, sys.error(s"unknown query ${op.name}"))
    q(s, args.data)
  }

  private def sink(df: DataFrame, op: Op): Unit = op.sink match {
    case Noop => df.write.format("noop").mode("overwrite").save()
    case Parquet => df.write.mode("overwrite").parquet(out.resolve(op.name).toString)
  }

  /** Run one query; returns (wall s, construct s, epoch ms at start, end of
    * construct, end), or None when it failed. */
  private def runOp(op: Op): Option[(Double, Double, Long, Long, Long)] = {
    val s = if (op.banded) banded else spark
    attempted += 1
    val c0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      sc.setLocalProperty(Phase.Key, Phase.Construct)
      val df = build(s, op)
      val t1 = System.nanoTime()
      val c1 = System.currentTimeMillis()
      sc.setLocalProperty(Phase.Key, Phase.Exec)
      sink(df, op)
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(s"[perfbench] ${op.name} ${"%.3f".formatLocal(java.util.Locale.ROOT, wall)} s")
      Some((wall, (t1 - t0) / 1e9, c0, c1, System.currentTimeMillis()))
    } catch {
      case e: Exception =>
        failures += s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        None
    } finally sc.setLocalProperty(Phase.Key, null)
  }

  /** Remove what the previous pass left: written results and streaming
    * temp checkpoints. */
  private def clean(): Unit = {
    deleteTree(out)
    val s = Files.list(tmp)
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith("temporary-"))
      .toList.foreach(deleteTree)
    finally s.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  /** One pass over the queries in a seed-permuted order; returns the wall
    * of each query that succeeded. */
  private def pass(traced: Boolean): Seq[(String, Double)] = {
    clean()
    val order = rng.shuffle(ops)
    if (!traced) return order.flatMap(op => runOp(op).map(r => op.name -> r._1))
    val c = new Collector
    BenchBus.drain(sc)
    val sessions = if (ops.exists(_.banded)) Seq(spark, banded) else Seq(spark)
    c.register(sc, sessions)
    try {
      val per = order.flatMap { op =>
        val r = runOp(op)
        val d0 = System.nanoTime()
        BenchBus.drain(sc)
        val events = c.take()
        r.map { case (wall, cs, c0, c1, e1) =>
          OpTrace(op.name, args.cores, c0, c1, e1, cs, wall, events)
            .copy(traceS = (System.nanoTime() - d0) / 1e9)
        }
      }
      traces += per
      per.map(t => t.name -> t.wallS)
    } finally c.unregister(sc, sessions)
  }

  def run(): Unit = {
    val first = pass(traced = false).map(_._2).sum
    // Steady passes fill --seconds: another pass starts only while the
    // mean pass so far still fits, and there are at least three untraced
    // passes (plus as many traced ones with --trace 1).
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val minPasses = if (args.trace) 6 else 3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < minPasses || elapsed * (i + 1) / i <= args.seconds) {
      val traced = args.trace && i % 2 == 1
      val w = pass(traced)
      if (!traced) passes += w
      i += 1
    }
    val rss = Main.peakRssMb()
    clean()
    val checks = check()
    writeResult(first, passes.toSeq, rss, checks)
    if (args.trace) writeTrace()
  }

  /** Each query once on the gate session, result written for the oracle
    * comparison. Returns (name, output dir or null when it failed, oracle
    * SQL or null when the query has none). */
  private def check(): Seq[(String, String, String)] = {
    val dir = args.work.resolve("check")
    deleteTree(dir)
    val oracle = graft.SparkEntry.oracleSql
    ops.map { op =>
      attempted += 1
      val path = dir.resolve(s"${op.name}.parquet").toString
      val ok = try {
        build(gate, op).coalesce(1).write.mode("overwrite").parquet(path)
        true
      } catch {
        case e: Exception =>
          failures += s"${op.name} (check): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] check ${op.name} failed: $e")
          false
      }
      (op.name, if (ok) path else null, oracle.getOrElse(op.name, null))
    }
  }

  private def writeResult(first: Double, passes: Seq[Seq[(String, Double)]], rss: Double,
      checks: Seq[(String, String, String)]): Unit = {
    val traced = traces.toSeq.map { per =>
      val m = per.flatMap(_.metrics).groupMapReduce(_._1)(_._2)(_ + _)
      // The traced pass pays for its drains and bookkeeping too.
      val wall = per.map(t => t.wallS + t.traceS).sum
      val layers = m ++ Map(
        "construct_s" -> per.map(_.constructS).sum,
        "plan_s" -> per.map(_.planS).sum,
        "exec_s" -> per.map(_.execS).sum,
        "executor_busy" -> (if (m("executor_slot_s") > 0) m("exec_run_s") / m("executor_slot_s") else 0.0),
        "split_worst_share" -> per.map(t => t.metrics("split_residual_s") / math.max(t.wallS, 1e-9))
          .maxOption.getOrElse(0.0))
      Json.obj("wall_s" -> wall, "metrics" -> Json.obj(layers.toSeq.sortBy(_._1): _*))
    }
    val json = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "queries" -> ops.map(_.name),
      "first_pass_s" -> first, "passes" -> passes.map(_.map(_._2).sum),
      "steady_walls" -> Json.obj(ops.map(o => o.name -> passes.flatMap(_.collect {
        case (n, w) if n == o.name => w })): _*),
      "traced_passes" -> traced,
      "peak_rss_mb" -> rss, "attempted" -> attempted, "failures" -> failures.toSeq,
      "checks" -> checks.map { case (n, p, o) => Json.obj("name" -> n, "path" -> p, "oracle" -> o) })
    Files.writeString(args.work.resolve("result.json"), json.s)
  }

  private def writeTrace(): Unit = {
    val runs = traces.toSeq.zipWithIndex.flatMap { case (per, p) =>
      per.map { t =>
        val self = OpTrace.selfMs(t.spans)
        Json.obj("pass" -> p, "query" -> t.name, "wall_s" -> t.wallS, "trace_s" -> t.traceS,
          "construct_s" -> t.constructS, "plan_s" -> t.planS, "exec_s" -> t.execS,
          "metrics" -> Json.obj(t.metrics.toSeq.sortBy(_._1): _*),
          "spans" -> t.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "self_ms" -> self(s.id))))
      }
    }
    Files.writeString(args.work.resolve("trace.json"),
      Json.obj("workload" -> args.workload, "seed" -> args.seed, "runs" -> runs).s)
  }
}

/** Just enough JSON for the result and trace files. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
