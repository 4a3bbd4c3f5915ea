package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.engine.{Icelite, Knn}
import graft.h3.H3

/** The repeated-query service shape: each round indexes a corpus once
  * (`Knn.prepareCorpus`, a bucketed Icelite table) and then serves 200-query
  * batches through `Knn.knnJoinPrepared`: a localized batch around Paris
  * (manifest-pruned scans), then a dispersed global batch (the cached full
  * scan). Bypasses the PIP covers. */
final class KnnService extends Part {
  val ops: Seq[String] = Seq("knn_prepare", "knn_local", "knn_global")

  val CorpusRows = 100000L
  /** Res-0 buckets (at most 122 files per write): at the default res 1 a
    * 300k-row build took ~14 s on 4 cores, almost all of it per-bucket
    * file overhead, which would leave no time in a run for the batches. */
  val BucketRes = 0
  val K = 10
  val Res = 8

  var n = 0L
  var from = 0L
  var corpusDf: DataFrame = _
  var batchNo = 0
  /** Results of the first local and first global batch, for the checks. */
  val firstResults: mutable.Map[String, (Seq[(Long, Double, Double)], Map[Long, Array[Double]])] =
    mutable.Map.empty
  val badBatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val manifestRows: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def setUp(ctx: Ctx): Unit = {
    n = CorpusRows
    from = Synth.idOffset(ctx.seed + 1)
    corpusDf = Synth.points(ctx.spark, from, n, ctx.partitions)
    batchNo = 0
    firstResults.clear()
    badBatches.clear()
    manifestRows.clear()
  }

  private def batch(ctx: Ctx, kind: String, corpus: Knn.PreparedCorpus,
                    qs: Seq[(Long, Double, Double)]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.op(kind, qs.length) {
      val qdf = qs.toDF("qid", "lat", "lng")
      val r = ctx.call("Knn.knnJoinPrepared")(Knn.knnJoinPrepared(spark, corpus, qdf, K))
      val rows = ctx.call("collect")(r.select("qid", "dist_m").as[(Long, Double)].collect())
      r.unpersist(blocking = false)
      rows
    }.foreach { rows =>
      if (rows.length != qs.length * K) badBatches += s"$kind: ${rows.length} rows"
      if (!ctx.warmup && !firstResults.contains(kind))
        firstResults(kind) = (qs, rows.groupMap(_._1)(_._2).map { case (q, d) => q -> d.sorted })
    }
  }

  def round(ctx: Ctx): Unit = {
    val root = ctx.workDir.resolve("knn").resolve(s"corpus-r${ctx.round}").toString
    Icelite.drop(root)
    ctx.op("knn_prepare", n) {
      ctx.call("Knn.prepareCorpus") {
        val c = Knn.prepareCorpus(ctx.spark, corpusDf, Res, maxRounds = 3, root = root,
          bucketRes = BucketRes)
        ctx.counter("files_written", Icelite.currentSnapshot(root)
          .map(_.entries.map(_.files.length.toDouble).sum).getOrElse(0.0))
        c
      }
    }.foreach { corpus =>
      batch(ctx, "knn_local", corpus, Synth.localQueries(ctx.seed, batchNo))
      batch(ctx, "knn_global", corpus, Synth.globalQueries(ctx.seed, batchNo + 1))
      batchNo += 2
      corpus.release()
      manifestRows += Icelite.currentSnapshot(root).map(_.entries.map(_.rows).sum).getOrElse(0L)
    }
    Icelite.drop(root)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val ids = (from until from + n).toArray
    val lats = ids.map(Synth.lat)
    val lngs = ids.map(Synth.lng)
    val knn = Seq("knn_local", "knn_global").map { kind =>
      firstResults.get(kind) match {
        case None => Check(s"$kind.topk_vs_haversine", ok = false, "no batch completed")
        case Some((qs, got)) =>
          // Every 40th query of the batch: 5 brute-force scans per kind.
          val sample = qs.filter(_._1 % 40 == 0)
          val want = sample.map { case (q, la, ln) => q -> Oracle.topKDistances(la, ln, lats, lngs, K) }.toMap
          Checks.distances(s"$kind.topk_vs_haversine", want, got.filter(x => want.contains(x._1)), 1e-3)
      }
    }
    knn ++ Seq(
      Check("knn.result_rows", badBatches.isEmpty,
        if (badBatches.isEmpty) s"every batch returned ${K} rows per query" else badBatches.take(3).mkString("; ")),
      manifestRows.map(Checks.equal("knn.manifest_rows", n, _)).find(!_.ok)
        .getOrElse(Check("knn.manifest_rows", manifestRows.nonEmpty, s"${manifestRows.length} corpora of $n rows")))
  }

  def layers(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val qCells = (0 until 50).flatMap(b => Synth.localQueries(ctx.seed, b) ++ Synth.globalQueries(ctx.seed, b))
      .map { case (_, la, ln) => H3.latLngToCell(la, ln, Res) }.toArray
    Kernels.gridDisk(out, qCells, 2)
    out.toMap
  }
}
