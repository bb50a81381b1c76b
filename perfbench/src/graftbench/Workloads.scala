package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables
import graft.operators.{Dedup, FactEnrich, KeyMapUpsert, Similarity}
import graft.pipeline.{DagRunner, Medallion, Task}
import graft.sinks.{CowTable, SnapshotTarget}
import graft.sources.TargetTable
import graft.streaming.CowStream

/** One benchmark workload. The driver calls `setup` once per session
  * bring-up, `prepare` once after the last one, then `run` and `check`
  * per operation in a closed loop, and `finish` at the end.
  */
abstract class Workload(val spark: SparkSession, val tr: Tracer) {
  /** Wall seconds of named steps, e.g. `cow.merge`; cleared after warm-up. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** What `check` compared, per operation, so runs can be diffed. */
  val outputs: mutable.Map[Int, String] = mutable.Map.empty

  /** Fixture bootstrap; part of the timed set-up. */
  def setup(): Unit
  /** Expected answers computed once, outside every timing. */
  def prepare(): Unit = ()
  /** One operation; returns the input rows it consumed. */
  def run(i: Int): Long
  /** Whether operation `i`'s output is right; not timed. */
  def check(i: Int): Boolean
  /** Calls the traced run makes after operation `i`, outside its span. */
  def probe(i: Int): Unit = ()
  /** Whole-run checks; false counts as one failed operation. */
  def finish(): Boolean = true
  /** Workload metrics printed beside the end-to-end ones: (name, unit, value, samples). */
  def details(opSeconds: Seq[Double]): Seq[(String, String, Double, Int)] = Nil

  protected def timed[T](sample: String, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tr.span(span)(body)
    samples.getOrElseUpdate(sample, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }

  protected def fail(what: String): Boolean = {
    System.err.println(s"[perfbench] check failed: $what")
    false
  }
}

object Workload {
  val names: Seq[String] = Seq("medallion_daily", "cow_incremental", "llm_curate")

  def apply(name: String, spark: SparkSession, tr: Tracer, data: String, work: String,
      seed: Long, expected: Map[String, Seq[Seq[String]]]): Workload = name match {
    case "medallion_daily" => new MedallionDaily(spark, tr, data, work, expected)
    case "cow_incremental" => new CowIncremental(spark, tr, work, seed)
    case "llm_curate" => new LlmCurate(spark, tr, data, expected)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(((p * xs.size).ceil.toInt - 1).max(0))
}

/** The paper's batch: the full `Medallion.tasks` DAG through `DagRunner`,
  * a fresh batch id per run over one persistent root, so the key-map
  * upsert meets an existing target from the second run on.
  */
final class MedallionDaily(spark: SparkSession, tr: Tracer, data: String, work: String,
    expected: Map[String, Seq[Seq[String]]]) extends Workload(spark, tr) {
  private val root = s"$work/medallion"
  private val sources =
    Seq("events", "documents", "customer", "nation", "lineitem", "part", "supplier")
  private var rowsPerRun = 0L
  private var last: Seq[graft.meta.JobRun] = Nil
  /** Each run's `thin_layer` rows, compared with the DuckDB oracle after exit. */
  val thinRows: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def setup(): Unit = rowsPerRun = tr.span("sources.load") {
    sources.map(t => Tables.load(spark, data, t).count()).sum
  }

  private def batchId(i: Int) = f"b$i%04d"

  def run(i: Int): Long = {
    val tasks = Medallion.tasks(data, root, batchId(i)).map(t =>
      Task(t.name, t.layer, t.tableId)(s => tr.span(s"pipeline.task.${t.name}")(t.body(s))))
    last = tr.span("pipeline.dag_run") {
      DagRunner(spark, batchId(i), s"$root/audit/operational_metadata").run(tasks)
    }
    rowsPerRun
  }

  def check(i: Int): Boolean = {
    if (last.size != 6 || last.exists(_.jobStatus != "Success"))
      return fail(s"medallion run $i: ${last.map(r => r.tblName -> r.jobStatus)}")
    val thin = spark.read.parquet(s"$root/semantic/thin_layer").collect()
    if (thin.isEmpty || thin.exists(_.getAs[String]("batch_id") != batchId(i)))
      return fail(s"medallion run $i: thin_layer rows not of batch ${batchId(i)}")
    val rows = thin.map(r => Seq(r.getAs[String]("l_returnflag"),
      r.getAs[String]("l_linestatus"), r.getAs[Double]("sum_qty"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("n_brands")).mkString("\t")).sorted
    rows.foreach(r => thinRows += s"$i\t$r")
    outputs(i) = rows.mkString("\n")
    val keys = spark.read.parquet(s"$root/curated/event_type_map").count()
    keys == expected("event_types").head.head.toLong ||
      fail(s"medallion run $i: event_type_map holds $keys keys")
  }

  override def probe(i: Int): Unit = {
    tr.span("operators.fact_enrich") {
      val li = Tables.load(spark, data, "lineitem")
      FactEnrich.enrich(li, Seq(
        FactEnrich.Dim(Tables.load(spark, data, "part"),
          keys = Seq("l_partkey" -> "p_partkey"), select = Seq("p_brand" -> "p_brand")),
        FactEnrich.Dim(Tables.load(spark, data, "supplier"),
          keys = Seq("l_suppkey" -> "s_suppkey"), select = Seq("s_name" -> "s_name"))))
        .write.format("noop").mode("overwrite").save()
    }
    tr.span("operators.keymap_upsert") {
      KeyMapUpsert.newKeys(spark.read.parquet(s"$root/raw/events"),
        TargetTable.readOrEmpty(spark, s"$root/curated/event_type_map", StructType(Seq(
          StructField("event_type", StringType), StructField("event_type_key", LongType)))),
        "event_type", "event_type_key").count()
    }
  }

  override def details(op: Seq[Double]): Seq[(String, String, Double, Int)] = Seq(
    ("medallion.rows_per_s", "1/s", rowsPerRun * op.size / op.sum, op.size),
    ("medallion.batch_p50_s", "s", Workload.median(op), op.size))
}

/** Small seeded commits on a growing `CowTable`: per round an append, a SQL
  * MERGE, a deletion-vector delete, a stream-MV catch-up and a point read.
  *
  * The MERGE goes to a second, named table: SQL MERGE commits carry no
  * change-log sidecar, and the MV's change feed refuses a table with a
  * committed id it cannot see. Both tables are checked against a model
  * kept in driver memory.
  */
final class CowIncremental(spark: SparkSession, tr: Tracer, work: String, seed: Long)
    extends Workload(spark, tr) {
  import spark.implicits._

  private val root = s"$work/cow/fact"
  private val mvPath = s"$work/cow/fact_mv"
  private val mvCheckpoint = s"$work/cow/fact_mv_checkpoint"
  private val dimName = "cow.bench.dim"
  private val groups = Vector("alpha", "beta", "gamma", "delta", "epsilon")
  private val keep = 4
  private val initialRows = 20000
  private val appendRows = 200
  private val mergeRows = 100
  private val deleteSpan = 60
  private val lookups = 20

  private val rnd = new scala.util.Random(seed)
  /** The model: fact key -> (group, value) and dim id -> (name, score). */
  private val fact = mutable.TreeMap.empty[Long, (String, Long)]
  private val dim = mutable.TreeMap.empty[Long, (String, Long)]
  private var head = 0L
  private var nextKey = 0L
  private var nextDim = 0L
  private var looked: (Seq[Long], Array[Row]) = (Nil, Array.empty)

  private def factDf(rows: Seq[(Long, String, Long)]): DataFrame =
    rows.toDF("k", "grp", "v").withColumn("pb", CowTable.keyBucket(Seq("k"), 8))

  private def dimDf(rows: Seq[(Long, String, Long)]): DataFrame =
    rows.toDF("id", "name", "score").withColumn("pb", CowTable.keyBucket(Seq("id"), 8))

  private def freshFact(n: Int): Seq[(Long, String, Long)] = {
    val rows = (0 until n).map(j =>
      (nextKey + j, groups(rnd.nextInt(groups.size)), rnd.nextInt(1000).toLong))
    nextKey += n
    rows
  }

  private def freshDim(n: Int): Seq[(Long, String, Long)] = {
    val rows = (0 until n).map(j => (nextDim + j, s"d${nextDim + j}", rnd.nextInt(1000).toLong))
    nextDim += n
    rows
  }

  private def commitFactAppend(rows: Seq[(Long, String, Long)]): Unit = {
    require(CowTable.commitAppend(factDf(rows), root, head + 1, Seq("pb"), keep = keep,
      changeLogKeys = Seq("k"), changeLogRequired = true), s"append ${head + 1} lost its id")
    head += 1
    rows.foreach { case (k, g, v) => fact(k) = (g, v) }
  }

  private def catchUpMv(): Unit = {
    val q = CowStream.mvSink(spark, root, mvPath, Seq("grp"), Seq("v"), mvCheckpoint,
      Some(Trigger.AvailableNow()))
    try q.awaitTermination() finally q.stop()
  }

  def setup(): Unit = {
    commitFactAppend(freshFact(initialRows))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cow.bench")
    spark.sql(s"CREATE TABLE $dimName (id BIGINT, name STRING, score BIGINT, pb INT) " +
      "PARTITIONED BY (pb)")
    val d = freshDim(initialRows / 4)
    dimDf(d).createOrReplaceTempView("bench_dim_seed")
    spark.sql(s"INSERT INTO $dimName SELECT id, name, score, pb FROM bench_dim_seed")
    d.foreach { case (id, n, s) => dim(id) = (n, s) }
    catchUpMv()
  }

  private def randomLive(m: mutable.TreeMap[Long, (String, Long)], below: Long): Long =
    m.keysIteratorFrom(rnd.nextLong(below)).nextOption().getOrElse(m.firstKey)

  private def merge(sql: String): Unit =
    if (!tr.enabled) spark.sql(sql)
    else {
      // the traced run splits spark.sql into parse + analysis and execution
      val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val qe = tr.span("plans.parse_analyze") {
        val qe = cs.sessionState.executePlan(cs.sessionState.sqlParser.parsePlan(sql))
        qe.analyzed
        qe
      }
      qe.assertCommandExecuted()
    }

  def run(i: Int): Long = {
    val added = freshFact(appendRows)
    timed("cow.append", "sinks.append")(commitFactAppend(added))

    val updates = (0 until mergeRows / 2).map(_ => randomLive(dim, nextDim)).distinct
      .map(id => (id, s"u$i-$id", rnd.nextInt(1000).toLong))
    val merged = updates ++ freshDim(mergeRows - updates.size)
    dimDf(merged).createOrReplaceTempView("bench_merge_src")
    timed("cow.merge", "sinks.merge")(merge(
      s"""MERGE INTO $dimName AS t USING bench_merge_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET name = s.name, score = s.score
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    merged.foreach { case (id, n, s) => dim(id) = (n, s) }

    val lo = randomLive(fact, nextKey)
    val doomed = fact.range(lo, lo + deleteSpan + 1).keys.toSeq
    timed("cow.delete", "sinks.delete") {
      require(CowTable.deleteWhereDv(spark, root, head + 1, col("k").between(lo, lo + deleteSpan),
        keep = keep, changeLog = true), s"delete ${head + 1} lost its id")
    }
    head += 1
    doomed.foreach(fact.remove)

    timed("cow.mv_refresh", "streaming.mv_batch")(catchUpMv())

    val keys = Seq.fill(lookups)(rnd.nextLong(nextKey)).distinct
    val rows = timed("cow.lookup", "sinks.lookup") {
      CowTable.lookupKeys(spark, root, keys.toDF("k").withColumn("pb",
        CowTable.keyBucket(Seq("k"), 8)), Seq("k"), Seq("pb")).collect()
    }
    looked = (keys, rows)
    added.size + merged.size + doomed.size + keys.size
  }

  private def factRows(rows: Array[Row]): Seq[(Long, String, Long)] =
    rows.map(r => (r.getAs[Long]("k"), r.getAs[String]("grp"), r.getAs[Long]("v"))).toSeq.sorted

  def check(i: Int): Boolean = {
    val (keys, rows) = looked
    val want = keys.flatMap(k => fact.get(k).map { case (g, v) => (k, g, v) }).sorted
    outputs(i) = factRows(rows).mkString("\n")
    factRows(rows) == want || fail(s"cow round $i: lookup of ${keys.size} keys")
  }

  override def finish(): Boolean = {
    val table = CowTable.read(spark, root).get
    val tableOk = factRows(table.collect()) ==
      fact.toSeq.map { case (k, (g, v)) => (k, g, v) } || fail("cow fact table != model")
    val dimOk = spark.table(dimName).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Long]("score")))
      .toSeq.sorted == dim.toSeq.map { case (k, (n, s)) => (k, n, s) } ||
      fail("cow dim table != model")
    val mv = SnapshotTarget.read(spark, mvPath).get
      .select(col("grp"), col("mv_n").cast("long"), col("mv_sum_v").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val direct = table.groupBy("grp").agg(count(lit(1)), sum("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val mvOk = mv == direct || fail(s"cow MV $mv != group-by over the table $direct")
    tableOk && dimOk && mvOk
  }

  override def details(op: Seq[Double]): Seq[(String, String, Double, Int)] = {
    def p50(k: String) = (s"${k}_p50_s", "s", Workload.median(samples(k).toSeq), samples(k).size)
    val commits = Seq("cow.append", "cow.merge", "cow.delete", "cow.mv_refresh")
      .flatMap(samples(_))
    val live = CowTable.currentManifest(spark, root).get.files.map(_.bytes).sum
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    Seq(("cow.commits_per_s", "1/s", commits.size / op.sum, commits.size)) ++
      Seq("cow.append", "cow.merge", "cow.delete", "cow.mv_refresh", "cow.lookup").map(p50) ++
      Seq(("cow.commit_p90_s", "s", Workload.percentile(commits, 0.9), commits.size),
        ("cow.space_amp", "ratio", onDisk.toDouble / live, 1))
  }
}

/** One pass of the curation chain over `documents` and `embeddings`;
  * nothing is committed.
  */
final class LlmCurate(spark: SparkSession, tr: Tracer, data: String,
    expected: Map[String, Seq[Seq[String]]]) extends Workload(spark, tr) {
  private lazy val docs = Tables.load(spark, data, "documents")
  private lazy val corpus = Tables.load(spark, data, "embeddings")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val queries = spark.read.parquet(s"$data/queries.parquet")
  private val cells = 16
  private val k = 5
  private var rowsPerPass = 0L
  private var wantSim = Set.empty[(Long, Long)]
  private var wantTopK = Seq.empty[(Long, Long, Double, Int)]
  private var got: Map[String, Any] = Map.empty

  def setup(): Unit = rowsPerPass = docs.count() + corpus.count()

  private def kept(df: DataFrame) = Dedup.exact(df, col("text"), "doc_id")

  private def topK(df: DataFrame) = df.select("qid", "id", "cosine", "rank").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  /** Exact answers for the simhash and top-k steps, by brute force. */
  override def prepare(): Unit = {
    val sigs = Dedup.simhashSignatures(kept(docs), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    wantSim = (for {
      a <- sigs.indices.iterator
      b <- (a + 1 until sigs.length).iterator
      if java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2) <= 3
    } yield (sigs(a)._1, sigs(b)._1)).toSet
    wantTopK = topK(Similarity.bruteForceTopK(corpus, queries, k, excludeSelf = false))
  }

  def run(i: Int): Long = {
    val dedup = kept(docs).cache()
    try {
      val survivors = timed("curate.dedup_exact", "operators.dedup_exact") {
        dedup.agg(count(lit(1)), sum("doc_id")).head()
      }
      def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val lsh = timed("curate.minhash_lsh", "operators.minhash_lsh")(pairs(
        Dedup.minhashLshPairs(dedup, "doc_id", "text", shingleSize = 8, numHashes = 32,
          bands = 8, threshold = 0.9)))
      val ngram = timed("curate.ngram_jaccard", "operators.ngram_jaccard")(pairs(
        Dedup.ngramJaccardPairs(dedup, "doc_id", "text", shingleSize = 8, threshold = 0.9)))
      val sim = timed("curate.simhash", "operators.simhash") {
        Dedup.simhashPairs(dedup, "doc_id", "text", maxHamming = 3, bands = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val init = corpus.where(col("id") < cells)
        .select(col("id").as("cid"), transform(col("vec"), _.cast("double")).as("cvec"))
      val cents = timed("curate.kmeans", "operators.kmeans") {
        val c = Similarity.kmeansCentroids(corpus, dim = 64, init, iters = 2)
        c.collect()
        c
      }
      val ivf = timed("curate.ivf_topk", "operators.ivf_topk")(topK(
        Similarity.ivfTopK(Similarity.ivfAssignTo(corpus, cents), cents, queries, k,
          nProbe = cells, excludeSelf = false)))
      got = Map("survivors" -> survivors, "lsh" -> lsh, "ngram" -> ngram, "sim" -> sim,
        "cents" -> cents.count(), "ivf" -> ivf)
      rowsPerPass
    } finally dedup.unpersist()
  }

  def check(i: Int): Boolean = {
    val near = expected("near_dup").map(r => (r(0).toLong, r(1).toLong, r(2).toDouble))
      .sorted
    def samePairs(name: String) = {
      val ps = got(name).asInstanceOf[Seq[(Long, Long, Double)]].sorted
      (ps.map(p => (p._1, p._2)) == near.map(p => (p._1, p._2)) &&
        ps.zip(near).forall { case (a, b) => (a._3 - b._3).abs <= 1e-6 }) ||
        fail(s"curate pass $i: $name pairs ${ps.size} vs ${near.size} planted")
    }
    outputs(i) = Seq("survivors", "lsh", "ngram", "sim", "ivf").map(k => got(k) match {
      case xs: Iterable[_] => xs.map(_.toString).toSeq.sorted.mkString(";")
      case x => x.toString
    }).mkString("\n")
    val s = got("survivors").asInstanceOf[Row]
    val dedupOk = (s.getLong(0) == expected("kept_docs").head.head.toLong &&
      s.getLong(1) == expected("kept_id_sum").head.head.toLong) ||
      fail(s"curate pass $i: exact dedup kept $s")
    val simOk = got("sim") == wantSim ||
      fail(s"curate pass $i: simhash pairs differ from brute force")
    val centsOk = got("cents") == cells.toLong || fail(s"curate pass $i: centroids")
    val ivfOk = got("ivf") == wantTopK || fail(s"curate pass $i: IVF top-k != exact top-k")
    dedupOk & samePairs("lsh") & samePairs("ngram") & simOk & centsOk & ivfOk
  }

  override def details(op: Seq[Double]): Seq[(String, String, Double, Int)] = Seq(
    ("curate.docs_per_s", "1/s", rowsPerPass * op.size / op.sum, op.size),
    ("curate.pass_p50_s", "s", Workload.median(op), op.size)) ++
    samples.map { case (k, xs) => (s"${k}_p50_s", "s", Workload.median(xs.toSeq), xs.size) }
}
