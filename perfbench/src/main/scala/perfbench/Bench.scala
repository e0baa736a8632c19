package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.tables.TableStore

/** Command-line options; see perfbench/README.md. Every size follows
  * from `seconds`: a run shorter than 8 s is the self-test's tiny size. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path, corrupt: Boolean) {
  private val tiny = seconds < 8
  /** Initial orders of the `etl_daily` source (customers are a tenth). */
  val orders: Int = if (tiny) 300 else 3000
  /** Documents per `curation_ingest` batch. */
  val docsPerBatch: Int = if (tiny) 200 else 5000
  /** Set-ups per run, each into a fresh store; `setup_s` is their median. */
  val setupReps: Int = if (tiny) 1 else 2
}

/** Everything one run shares: the session, the tracer, the listener
  * counters (traced runs only) and the op/failure tally. */
final class Ctx(val opts: Opts, val spark: SparkSession, val sessionStartS: Double) {
  val tracer = new Tracer(opts.trace)
  val counters: Option[LayerCounters] =
    if (opts.trace) Some(new LayerCounters(spark)) else None
  counters.foreach(_.watch(spark))

  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** Counts one op and its check outcome; keeps the first problems for
    * the log. */
  def checked(op: String, found: Seq[String]): Unit = {
    attempted += 1
    if (found.nonEmpty) {
      failed += 1
      if (problems.size < 20) problems ++= found.take(3).map(p => s"$op: $p")
    }
  }

  def recording(on: Boolean): Unit = counters.foreach(_.record(on))

  def dir(name: String): Path = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** What one op changed in a store: new commits, their file counts (from
  * the public `versions` / `operationMetrics`), the bytes of files that
  * appeared under the store root, and the rows the commits of the tables
  * in the row scope wrote. A commit whose added files carry deletion
  * vectors or no row count reports -1 rows; it is counted in
  * `unknownRows`, not added as 0. */
final case class StoreDelta(commits: Int, filesAdded: Long, filesRemoved: Long,
    rowsWritten: Long, unknownRows: Seq[String], bytesWritten: Long) {
  def +(o: StoreDelta): StoreDelta = StoreDelta(commits + o.commits,
    filesAdded + o.filesAdded, filesRemoved + o.filesRemoved, rowsWritten + o.rowsWritten,
    unknownRows ++ o.unknownRows, bytesWritten + o.bytesWritten)
}

object StoreDelta {
  val zero: StoreDelta = StoreDelta(0, 0, 0, 0, Nil, 0)

  final case class Snap(files: Map[String, Long], versions: Map[String, Set[Int]])

  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).values.sum

  /** `db.table` names present in the store. */
  def tables(root: Path): Seq[String] =
    if (!Files.exists(root)) Nil
    else Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).toSeq.flatMap { db =>
      Files.list(db).iterator().asScala
        .filter(t => Files.exists(t.resolve("_CURRENT")))
        .map(t => s"${db.getFileName}.${t.getFileName}").toSeq
    }.sorted

  def snap(store: TableStore, root: Path): Snap =
    Snap(files(root), tables(root).map(t => t -> store.versions(t).toSet).toMap)

  /** The delta from `a` to `b`; rows are counted only for tables that
    * `rowScope` accepts. */
  def between(store: TableStore, a: Snap, b: Snap, rowScope: String => Boolean): StoreDelta = {
    val written = b.files.collect { case (p, n) if !a.files.contains(p) => n }.sum
    b.versions.foldLeft(zero.copy(bytesWritten = written)) { case (acc, (t, vs)) =>
      (vs -- a.versions.getOrElse(t, Set.empty)).toSeq.sorted.foldLeft(acc) { (acc, v) =>
        val (fa, fr, ra, _) = store.operationMetrics(t, v)
        val inScope = rowScope(t)
        acc + StoreDelta(1, fa, fr, if (inScope && ra >= 0) ra else 0L,
          if (inScope && ra < 0) Seq(s"$t@$v") else Nil, 0L)
      }
    }
  }
}

object Bench {
  /** Load timestamp of day `j`: 2024-01-01T00:00Z plus `j` days. */
  def loadTsMs(j: Int): Long = 1704067200000L + j * 86400000L
  def loadTs(j: Int): Column = lit(new java.sql.Timestamp(loadTsMs(j)))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  /** Runs `setupReps` set-ups, each into a fresh store, keeping the last
    * store and deleting the others; returns it with the median set-up time.
    * The first set-up in the JVM is cold (class loading, JIT, codegen). */
  def setUp[A](ctx: Ctx, name: String)(rep: TableStore => A): (TableStore, Path, A, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (TableStore, Path, A) = null
    for (i <- 0 until ctx.opts.setupReps) {
      if (last != null) { last._1.detach(); deleteTree(last._2) }
      val root = ctx.opts.work.resolve(s"$name-store-$i")
      val (a, s) = Stats.timed {
        val store = new TableStore(ctx.spark, root.toString)
        (store, rep(store))
      }
      times += s
      last = (a._1, root, a._2)
    }
    ctx.info("setup_rep_s") = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    (last._1, last._2, last._3, Stats.median(times.toSeq))
  }

  def setCommon(ctx: Ctx, setupS: Double, latS: Seq[Double], itemsPerS: Double,
      writeAmp: Double, storeRoot: Path): Unit = {
    ctx.endToEnd("setup_s") = (ctx.sessionStartS + setupS, "s")
    ctx.endToEnd("op_p50_ms") = (Stats.median(latS) * 1e3, "ms")
    ctx.endToEnd("items_per_s") = (itemsPerS, "1/s")
    ctx.endToEnd("write_amp") = (writeAmp, "ratio")
    ctx.endToEnd("store_mb") = (StoreDelta.bytes(storeRoot) / 1e6, "MB")
    ctx.info("ops_timed") = latS.size
  }

  /** Per-layer metrics every workload reports; a layer the workload does
    * not exercise reads 0. Counts and times are per timed op. */
  def setLayers(ctx: Ctx, ops: Int, wallS: Double, delta: StoreDelta, usefulRows: Long,
      extra: Map[String, Double]): Unit = {
    val n = math.max(1, ops).toDouble
    def put(k: String, v: Double, unit: String): Unit =
      ctx.perLayer(k) = (extra.getOrElse(k, v), unit)
    for (s <- Seq("bronze", "silver", "gold_dims", "gold_fact"))
      put(s"pipeline.${s}_s", Stats.medianOr0(ctx.tracer.durations(s"pipeline.$s")), "s")
    put("tables.commits", delta.commits / n, "count")
    put("tables.files_added", delta.filesAdded / n, "count")
    put("tables.files_removed", delta.filesRemoved / n, "count")
    put("tables.rows_rewritten", delta.rowsWritten / n, "count")
    put("tables.bytes_written_mb", delta.bytesWritten / n / 1e6, "MB")
    put("tables.rewrite_useful_frac",
      if (delta.rowsWritten == 0) 0.0 else usefulRows.toDouble / delta.rowsWritten, "ratio")
    put("tables.files_scanned_frac", 0.0, "ratio")
    put("tables.index_files", 0.0, "count")
    val c = ctx.counters.get
    put("catalyst.analysis_ms", c.analysisMs.sum / n, "ms")
    put("catalyst.optimization_ms", c.optimizationMs.sum / n, "ms")
    put("catalyst.planning_ms", c.planningMs.sum / n, "ms")
    put("catalyst.actions", c.actions.sum / n, "count")
    put("spark.jobs", c.jobs.sum / n, "count")
    put("spark.tasks", c.tasks.sum / n, "count")
    put("spark.task_run_s", c.taskRunMs.sum / 1e3 / n, "s")
    put("spark.task_cpu_s", c.taskCpuNs.sum / 1e9 / n, "s")
    put("spark.core_util",
      c.taskRunMs.sum / 1e3 / (wallS * ctx.spark.sparkContext.defaultParallelism), "ratio")
    put("spark.shuffle_read_mb", c.shuffleRead.sum / 1e6 / n, "MB")
    put("spark.shuffle_write_mb", c.shuffleWrite.sum / 1e6 / n, "MB")
    put("spark.spill_mb", c.spill.sum / 1e6 / n, "MB")
    put("operators.dedup_s", 0.0, "s")
    put("operators.cluster_index_s", 0.0, "s")
    put("operators.kept_frac", 0.0, "ratio")
    put("jvm.gc_s", Jvm.gcSeconds, "s")
    put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
  }
}
