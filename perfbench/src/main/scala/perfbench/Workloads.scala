package perfbench

import scala.collection.mutable

import graft.operators.Dedup
import graft.pipeline.Medallion
import graft.tables.TableStore

object Workloads {
  import Bench._

  private val StarTables = Seq("gold.dim_customer", "gold.dim_geography", "gold.fact_sales")

  /** Checks a store against the reference after loading `day` (whose
    * predecessor is `prev`) at the load timestamp of `j`. */
  def checkLoad(store: TableStore, star: Ref.Star, prev: Option[Gen.Day], j: Int): Seq[String] = {
    val silver = Ref.SilverSpecs.flatMap { case (t, keys, payload) =>
      Ref.checkSilver(s"silver.$t", store.read(s"silver.$t").collect(), keys, payload,
        Ref.sourceRows(star.day, t), prev.map(Ref.sourceRows(_, t)).getOrElse(Map.empty),
        loadTsMs(j))
    }
    val Seq(cust, geo, fact) = StarTables.map(store.read(_).collect())
    silver ++ Ref.checkDims(cust, geo, star) ++ Ref.checkFact(fact, star)
  }

  /** Tables whose rows a load rewrites in answer to the day's changes:
    * the SCD2 silver tables and the gold fact. Bronze is a snapshot
    * overwrite and the gold dims a rebuild on every load, by design. */
  private def changeScoped(t: String): Boolean = t.startsWith("silver.") || t == "gold.fact_sales"

  private def sourceRows(d: Gen.Day): Long =
    d.customers.size + d.orders.size + d.lines.size + Gen.Nations.size + Gen.Regions.size

  /** `etl_daily`: one writer, closed loop, day-over-day loads through the
    * medallion. The traced run calls the four public stage functions in
    * the order `Medallion.run` does, inside spans. */
  def etlDaily(ctx: Ctx): Unit = {
    val o = ctx.opts
    val nLoads = math.max(2, o.seconds / 12)
    val days = Gen.days(o.seed, o.orders, nLoads + 1)
    val srcBytes = days.map(d => Gen.writeDay(d, ctx.dir(s"day${d.index}").toString))
    val stars = days.tail.scanLeft(Ref.nextStar(None, days.head))((s, d) => Ref.nextStar(Some(s), d))
    val expected =
      if (o.corrupt) stars.updated(1, corruptFact(stars(1))) else stars
    def dayDir(j: Int) = o.work.resolve(s"day$j").toString

    val (store, root, _, setupS) = setUp(ctx, "etl") { store =>
      new Medallion(ctx.spark, store, dayDir(0)).run(loadTs(0))
    }
    val checkS = mutable.ArrayBuffer.empty[Double]
    def checkTimed(j: Int, prev: Option[Gen.Day], more: Seq[String]): Unit = {
      val (found, s) = Stats.timed(checkLoad(store, expected(j), prev, j))
      checkS += s
      ctx.checked(s"load $j (${days(j).kind})", found ++ more)
    }
    checkTimed(0, None, Nil)

    val lat = mutable.ArrayBuffer.empty[Double]
    var delta = StoreDelta.zero
    var useful = 0L
    val rowsPerLoad = mutable.ArrayBuffer.empty[String]
    for (j <- 1 to nLoads) {
      val before = StoreDelta.snap(store, root)
      val m = new Medallion(ctx.spark, store, dayDir(j))
      val ts = loadTs(j)
      ctx.recording(true)
      val (_, s) = Stats.timed {
        if (!o.trace) m.run(ts)
        else ctx.tracer.span("load", j) {
          ctx.tracer.span("pipeline.bronze", j)(m.runBronze())
          ctx.tracer.span("pipeline.silver", j)(m.runSilver(ts))
          ctx.tracer.span("pipeline.gold_dims", j)(m.runGoldDims(ts))
          ctx.tracer.span("pipeline.gold_fact", j)(m.runGoldFact(ts))
        }
      }
      ctx.recording(false)
      lat += s
      val d = StoreDelta.between(store, before, StoreDelta.snap(store, root), changeScoped)
      delta = delta + d
      useful += days(j).changedRows
      rowsPerLoad += s"${days(j).changedRows}/${d.rowsWritten}"
      checkTimed(j, Some(days(j - 1)),
        d.unknownRows.map(c => s"operationMetrics gives no row count for commit $c"))
    }
    val loaded = days.slice(1, nLoads + 1)
    setCommon(ctx, setupS, lat.toSeq, loaded.map(sourceRows).sum / lat.sum,
      delta.bytesWritten.toDouble / srcBytes.slice(1, nLoads + 1).sum, root)
    ctx.info("day_kinds") = loaded.map(_.kind).mkString(",")
    ctx.info("load_s") = lat.map(s => f"$s%.3f").mkString("[", ",", "]")
    ctx.info("check_s") = checkS.map(s => f"$s%.3f").mkString("[", ",", "]")
    ctx.info("changed_over_rewritten_rows") = rowsPerLoad.mkString("[", ",", "]")
    if (o.trace) setLayers(ctx, nLoads, lat.sum, delta, useful, Map.empty)
  }

  private def corruptFact(s: Ref.Star): Ref.Star = {
    val (k, r) = s.fact.head
    new Ref.Star(s.day, s.dimCust, s.dimGeo,
      s.fact.updated(k, r.copy(net = r.net.add(java.math.BigDecimal.ONE))))
  }

  /** `curation_ingest`: id-ordered document batches through
    * `Dedup.incrementalDedup` against a persisted band index, with
    * `Dedup.clusterIndex` maintenance every few batches. */
  def curationIngest(ctx: Ctx): Unit = {
    val o = ctx.opts
    val spark = ctx.spark
    val b = o.docsPerBatch
    val nBatches = math.max(3, o.seconds / 3)
    val maintainEvery = 4
    val (docs, copies) = Gen.corpus(o.seed, (nBatches + 1) * b)
    val batchPath = (i: Int) => o.work.resolve(s"batch_$i.parquet").toString
    val batchBytes = docs.grouped(b).zipWithIndex.map { case (ds, i) =>
      Gen.writeBatch(ds, batchPath(i)) }.toVector
    val index = "idx.bands"
    /** Survivors of batch `i`, and the (files scanned, index files) of its
      * index probe; the seed batch has no index to probe. */
    def ingest(store: TableStore, i: Int, op: Long): (Set[Long], (Int, Int)) =
      ctx.tracer.span("operators.dedup", op) {
        val kept = Dedup.incrementalDedup(store, index, spark.read.parquet(batchPath(i)),
          "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
        (kept, Dedup.lastIndexScan.getOrElse((0, 0)))
      }

    val (store, root, (seedKept, _), setupS) = setUp(ctx, "curation")(ingest(_, 0, 0))
    val kept = mutable.ArrayBuffer(seedKept)
    val lat = mutable.ArrayBuffer.empty[Double]
    var scanned, indexFiles = 0L
    val before = StoreDelta.snap(store, root)
    ctx.recording(true)
    val t0 = System.nanoTime()
    for (i <- 1 to nBatches) {
      val ((ids, (sc, tot)), s) = Stats.timed(ingest(store, i, i))
      lat += s
      kept += ids
      scanned += sc
      indexFiles += tot
      if (i % maintainEvery == 0)
        ctx.tracer.span("operators.cluster_index", i)(Dedup.clusterIndex(store, index))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    ctx.recording(false)
    val delta = StoreDelta.between(store, before, StoreDelta.snap(store, root), _ => true)

    // reference: one-shot first-seen dedup over every ingested document
    val all = spark.read.parquet((0 to nBatches).map(batchPath): _*)
    val (ref0, refS) = Stats.timed(Dedup.firstSeenDedup(all, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    ctx.info("reference_s") = f"$refS%.3f"
    val ref = if (o.corrupt) ref0 - ref0.min else ref0
    kept.zipWithIndex.foreach { case (ids, i) =>
      val exp = ref.filter(id => id >= i.toLong * b && id < (i + 1L) * b)
      ctx.checked(s"batch $i", if (ids == exp) Nil
        else Seq(s"kept ${ids.size} docs, reference keeps ${exp.size}; " +
          s"extra ${(ids -- exp).take(5)}, missing ${(exp -- ids).take(5)}"))
    }
    setCommon(ctx, setupS, lat.toSeq, nBatches.toDouble * b / wallS,
      StoreDelta.bytes(root).toDouble / batchBytes.sum, root)
    ctx.info("batch_s") = lat.map(s => f"$s%.3f").mkString("[", ",", "]")
    ctx.info("docs") = docs.size
    ctx.info("generated_near_copies") = copies
    ctx.info("kept_docs") = kept.map(_.size).sum
    if (o.trace)
      setLayers(ctx, nBatches, wallS, delta, 0L, Map(
        "operators.dedup_s" -> Stats.median(ctx.tracer.durations("operators.dedup").drop(o.setupReps)),
        "operators.cluster_index_s" -> Stats.medianOr0(ctx.tracer.durations("operators.cluster_index")),
        "operators.kept_frac" -> kept.tail.map(_.size).sum.toDouble / (nBatches * b),
        "tables.files_scanned_frac" -> scanned.toDouble / math.max(1L, indexFiles),
        "tables.index_files" -> store.prunedFileList(index, None).size.toDouble))
  }
}
