package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark driver: one `local[cores]` session and one client thread
  * running a workload's operations in a closed loop, each started only
  * after the previous one returned, as a batch ETL caller does.
  *
  * {{{
  * graftbench.Main --workload <name> --data <inputs dir> --work <scratch dir>
  *   --seconds <n> --trace <0|1> --cores <n> --out <result file>
  * }}}
  *
  * Set-up (session bring-up, source warm-up, fixture bootstrap) runs
  * `setups` times and its median is `setup_s`. One untimed warm-up
  * operation follows, then operations run until `seconds` have passed and
  * at least `minOps` have completed. The result file holds the metrics,
  * per-operation seconds, digests of what the checks compared and, when
  * traced, one line per span.
  */
object Main {
  private val setups = 3
  private val minOps = 2
  /** Traced count metrics average the first operations only, so two runs
    * of one seed count the same work.
    */
  private val countedOps = 2

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val trace = o("trace") == "1"
    val work = o("work")
    val expected = Files.readAllLines(Paths.get(o("data"), "expected.tsv"), UTF_8).asScala.toSeq
      .map(_.split("\t").toSeq).groupBy(_.head).map { case (k, rows) => k -> rows.map(_.tail) }

    def session(dir: String): SparkSession = {
      val b = GraftSession.builder("perfbench", cores = o("cores").toInt)
        .config("spark.sql.catalog.cow.warehouse", s"$dir/cow-warehouse")
        .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.ui.enabled", "false")
      if (trace) b
        .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
        .config("spark.extraListeners", classOf[JobListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      b.getOrCreate()
    }

    // set-up, several times; the last session stays up for the run
    var spark: SparkSession = null
    var tr: Tracer = null
    var w: Workload = null
    val setupSeconds = (1 to setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val dir = s"$work/setup$i"
      val t0 = System.nanoTime()
      spark = session(dir)
      tr = new Tracer(spark, trace)
      w = Workload(name, spark, tr, o("data"), dir, o("seed").toLong, expected)
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    w.prepare()
    log(s"set-up done: ${setupSeconds.map(s => f"$s%.2f").mkString(", ")} s")

    var failed = 0
    var attempted = 0
    val opSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    def operation(i: Int): Unit = {
      attempted += 1
      tr.op = i
      val ok = try {
        val t0 = System.nanoTime()
        val n = tr.span("bench.op")(w.run(i))
        if (i > 0) { opSeconds += (System.nanoTime() - t0) / 1e9; rows += n }
        w.check(i)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] operation $i failed: $e")
          e.printStackTrace()
          false
      }
      if (!ok) failed += 1
      if (trace) w.probe(i)
    }

    operation(0) // warm-up: JIT, codegen caches, first-run-only paths
    w.samples.clear()
    log("warm-up done")
    val deadline = System.nanoTime() + o("seconds").toLong * 1000000000L
    var i = 1
    while (System.nanoTime() < deadline || i <= minOps) { operation(i); i += 1 }
    log(s"${i - 1} timed operations done")
    attempted += 1
    if (!(try w.finish() catch { case e: Exception => e.printStackTrace(); false })) failed += 1

    val metrics: Seq[(String, String, Double)] =
      if (trace) Layers.report(tr, countedOps) :+
        (("trace.op_p50_s", "s", Workload.median(opSeconds.toSeq)))
      else Seq(
        ("setup_s", "s", Workload.median(setupSeconds)),
        ("op_p50_s", "s", Workload.median(opSeconds.toSeq)),
        ("rows_per_s", "1/s", rows / opSeconds.sum))

    val out = new StringBuilder
    out ++= s"attempted\t$attempted\nfailed\t$failed\n"
    metrics.foreach { case (n, u, v) => out ++= s"metric\t$n\t$u\t$v\n" }
    w.details(opSeconds.toSeq).foreach { case (n, u, v, c) => out ++= s"detail\t$n\t$u\t$v\t$c\n" }
    setupSeconds.foreach(s => out ++= s"setup\t$s\n")
    opSeconds.foreach(s => out ++= s"op\t$s\n")
    (0 to minOps).flatMap(i => w.outputs.get(i).map(i -> _)).foreach { case (i, v) =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(v.getBytes(UTF_8))
      out ++= s"digest\t$i\t${sha.map("%02x".format(_)).mkString}\n"
    }
    w match {
      case m: MedallionDaily =>
        out ++= s"oracle_sql\t${graft.QueriesCurated.medallionE2eSql.replace("\n", " ")}\n"
        m.thinRows.foreach(r => out ++= s"thin\t$r\n")
      case _ =>
    }
    if (trace) tr.jsonLines.foreach(l => out ++= s"span\t$l\n")
    Files.write(Paths.get(o("out")), out.toString.getBytes(UTF_8))
    spark.stop()
    log("done")
  }
}

/** Per-layer metrics of a traced run, named after the engine's modules. */
object Layers {
  import Workload.median

  def report(tr: Tracer, counted: Int): Seq[(String, String, Double)] = {
    val ops = tr.spans.toSeq.filter(s => s.name == "bench.op" && s.op > 0)
    val first = ops.take(counted)
    def named(n: String, in: Seq[Span] = ops) =
      in.flatMap(tr.subtree).filter(_.name == n)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def p50(n: String) = median(named(n).map(_.seconds))
    def perSpan(spans: Seq[Span], key: String) = mean(spans.map(tr.total(_, key)))

    val kinds = Seq("append", "merge", "delete")
    val commits = kinds.flatMap(k => named(s"sinks.$k", first))
    val mv = named("streaming.mv_batch", first)
    val sinks = kinds.map(k => (s"sinks.commit_s.$k", "s", p50(s"sinks.$k"))) ++
      CountingFileSystem.ops.map(op =>
        (s"sinks.fs_meta_calls_per_commit.$op", "count", perSpan(commits, s"fs.$op"))) ++ Seq(
        ("sinks.bytes_read_per_commit", "bytes", perSpan(commits, "fs.bytes_read")),
        ("sinks.bytes_written_per_commit", "bytes", perSpan(commits, "fs.bytes_written")),
        ("sinks.jobs_per_commit", "count", perSpan(commits, "jobs")))
    val streaming = Seq(
      ("streaming.mv_batch_s", "s", p50("streaming.mv_batch")),
      ("streaming.mv_bytes_written_per_batch", "bytes", perSpan(mv, "fs.bytes_written")),
      ("streaming.jobs_per_batch", "count", perSpan(mv, "jobs")))
    val plans = Seq(
      ("plans.sql_dml_parse_analyze_s", "s", p50("plans.parse_analyze")),
      ("plans.sql_dml_plan_s", "s", median(named("sinks.merge").map(s =>
        tr.total(s, "optimization_s") + tr.total(s, "planning_s")))))
    val tasks = Seq("events", "documents", "event_type_map", "customer_dim", "sales_fact",
      "thin_layer")
    val pipeline = tasks.map(t => (s"pipeline.task_s.$t", "s", p50(s"pipeline.task.$t"))) :+
      (("pipeline.audit_write_s", "s", median(named("pipeline.dag_run").map(tr.selfSeconds))))
    val operators = Seq("dedup_exact", "minhash_lsh", "ngram_jaccard", "simhash", "kmeans",
      "ivf_topk", "fact_enrich", "keymap_upsert").map(n =>
      (s"operators.${n}_s", "s", median(tr.spans.toSeq.filter(s =>
        s.name == s"operators.$n" && s.op > 0).map(_.seconds))))
    val sources = Seq(
      ("sources.scan_bytes", "bytes", perSpan(first, "scan_bytes")),
      ("sources.files_read", "count", perSpan(first, "files_read")),
      ("sources.load_s", "s", tr.spans.filter(_.name == "sources.load").lastOption
        .map(_.seconds).getOrElse(0.0)))
    def opTime(key: String) = median(ops.map(tr.total(_, key)))
    val executor = Seq(
      ("executor.task_cpu_s", "s", opTime("task_cpu_s")),
      ("executor.gc_s", "s", opTime("gc_s")),
      ("executor.shuffle_write_bytes", "bytes", perSpan(first, "shuffle_write_bytes")),
      ("executor.shuffle_read_bytes", "bytes", perSpan(first, "shuffle_read_bytes")),
      ("executor.spill_bytes", "bytes", perSpan(first, "spill_bytes")))
    val scheduling = Seq("jobs", "stages", "tasks").map(k =>
      (s"scheduling.$k", "count", perSpan(first, k))) :+
      (("scheduling.driver_only_s", "s", median(ops.map(tr.driverOnlySeconds))))
    val planning = Seq("analysis", "optimization", "planning").map(p =>
      (s"planning.${p}_s", "s", opTime(s"${p}_s")))
    val self = Seq("bench", "pipeline", "operators", "sinks", "streaming", "plans").map(l =>
      (s"self_s.$l", "s", median(ops.map(op =>
        tr.subtree(op).filter(_.layer == l).map(tr.selfSeconds).sum))))
    sinks ++ streaming ++ plans ++ pipeline ++ operators ++ sources ++ executor ++
      scheduling ++ planning ++ self
  }
}
