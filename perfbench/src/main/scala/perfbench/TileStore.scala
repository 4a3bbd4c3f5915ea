package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Icelite, TileRollup}

/** The storage path: writes beside reads on one Icelite table partitioned
  * by an H3 prefix. Each round builds the table afresh: a base
  * `writeResumable`, its roll-up into a standing res-5 tile table
  * (`readIncremental` of everything -> `pyramid`), an `appendResumable` of
  * a fresh id range, the incremental roll-up of the append
  * (`readIncremental` since the base -> `pyramid` -> `TileRollup.merge` into
  * the standing table), three prefix-pruned `readWhere` calls and one full
  * scan. The hot Paris cells make bucket sizes skewed. Bypasses Knn and the
  * PIP covers. */
final class TileStore extends Part {
  val ops: Seq[String] = Seq("ingest", "base_rollup", "append", "incr_rollup", "scan_pruned", "scan_full")

  val RowsPerWrite = 100000L
  /** Res-0 prefixes: 122 buckets, the fewest an H3 prefix gives; each
    * write's cost is mostly per bucket. */
  val PartitionRes = 0
  val TileRes = 5

  var n = 0L
  var from = 0L
  /** Bucket sets of the three pruned reads: the largest bucket, one bucket
    * and eight buckets that the seed picks. */
  var readSets: Seq[Set[String]] = Nil
  /** Every timed round's pruned reads (read index, (count, sum(id))) and
    * full scans. */
  val prunedScans: mutable.ArrayBuffer[(Int, (Long, Long))] = mutable.ArrayBuffer.empty
  val fullScans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** The first timed round's table, the snapshot of its base write and its
    * merged tile table, kept until the checks have read them. */
  var kept: Option[(String, Long, Option[DataFrame])] = None

  /** Write 0 is the base, write 1 the append. */
  def rows(ctx: Ctx, write: Int): DataFrame =
    Synth.points(ctx.spark, from + write * n, n, ctx.partitions)
      .withColumn("cell9", expr("h3_latlng_to_cell(lat, lng, 9)"))
      .withColumn("cell_p", expr(s"h3_cell_to_parent(cell9, $PartitionRes)"))

  private def bothWrites(ctx: Ctx): DataFrame = rows(ctx, 0).unionByName(rows(ctx, 1))

  def setUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    n = RowsPerWrite
    from = Synth.idOffset(ctx.seed + 2)
    if (readSets.isEmpty) {
      val byRows = bothWrites(ctx).groupBy(col("cell_p").cast("string")).count()
        .as[(String, Long)].collect().sortBy(e => (-e._2, e._1)).map(_._1).toSeq
      val rng = new scala.util.Random(ctx.seed)
      readSets = Seq(Set(byRows.head), Set(byRows(1 + rng.nextInt(byRows.length - 1))),
        rng.shuffle(byRows.tail).take(8).toSet)
    }
    prunedScans.clear()
    fullScans.clear()
    kept = None
  }

  /** Data files the table's current snapshot lists. */
  def files(root: String): Long =
    Icelite.currentSnapshot(root).map(_.entries.map(_.files.length.toLong).sum).getOrElse(0L)

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("id"), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def tiles(ctx: Ctx, df: DataFrame): DataFrame =
    ctx.call("TileRollup.pyramid")(TileRollup.pyramid(ctx.spark, df, "cell9", 9, Seq(TileRes), Nil)(TileRes))

  def round(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = ctx.workDir.resolve("tiles").resolve(s"table-r${ctx.round}").toString
    Icelite.drop(root)
    ctx.op("ingest", n)(ctx.call("Icelite.writeResumable") {
      Icelite.writeResumable(spark, rows(ctx, 0), root, "cell_p")
      ctx.counter("files_written", files(root))
    })
    // The standing tile table, and the snapshot it is rolled up to.
    val base = ctx.op("base_rollup", n) {
      val since = ctx.call("Icelite.currentSnapshot")(Icelite.currentSnapshot(root)).map(_.id).getOrElse(-1L)
      val all = ctx.call("Icelite.readIncremental")(Icelite.readIncremental(spark, root, -1L))
      (since, ctx.call("localCheckpoint")(tiles(ctx, all).localCheckpoint()))
    }
    val before = if (ctx.tracing) files(root) else 0L
    ctx.op("append", n)(ctx.call("Icelite.appendResumable") {
      Icelite.appendResumable(spark, rows(ctx, 1), root, "cell_p", runId = "append-1")
      ctx.counter("files_written", files(root) - before)
    })
    val merged = base.flatMap { case (since, standing) =>
      val m = ctx.op("incr_rollup", n) {
        val delta = ctx.call("Icelite.readIncremental")(Icelite.readIncremental(spark, root, since))
        val level = tiles(ctx, delta)
        ctx.call("localCheckpoint")(ctx.call("TileRollup.merge")(TileRollup.merge(standing, level, Nil))
          .localCheckpoint())
      }
      standing.unpersist(blocking = false)
      m
    }
    readSets.zipWithIndex.foreach { case (set, i) =>
      ctx.op("scan_pruned", 0L) {
        val df = ctx.call("Icelite.readWhere")(Icelite.readWhere(spark, root, set.contains))
        ctx.call("collect")(countSum(df))
      }.foreach(cs => prunedScans += ((i, cs)))
    }
    ctx.op("scan_full", 2 * n) {
      val df = ctx.call("Icelite.read")(Icelite.read(spark, root))
      ctx.call("collect")(countSum(df))
    }.foreach(fullScans += _)
    if (!ctx.warmup && kept.isEmpty) kept = Some((root, base.map(_._1).getOrElse(-1L), merged))
    else {
      merged.foreach(_.unpersist(blocking = false))
      Icelite.drop(root)
    }
  }

  /** Closed form of count and sum(id) over writes 0..`write`. */
  private def closedForm(write: Int): (Long, Long) = {
    val rows = n * (write + 1)
    (rows, rows * from + rows * (rows - 1) / 2)
  }

  def checks(ctx: Ctx): Seq[Check] = kept match {
    case None => Seq(Check("tile_store.table", ok = false, "no timed round kept its table"))
    case Some((root, baseId, merged)) => checkTable(ctx, root, baseId, merged)
  }

  private def checkTable(ctx: Ctx, root: String, baseId: Long, merged: Option[DataFrame]): Seq[Check] = {
    val spark = ctx.spark
    import spark.implicits._
    Icelite.currentSnapshot(root).foreach { s =>
      val r = s.entries.map(_.rows).sorted
      println(s"  table: ${r.length} buckets of res-$PartitionRes prefixes, rows per bucket " +
        s"median ${r(r.length / 2)} max ${r.last} (of ${2 * n})")
    }

    // Count and sum(id) after the base write (time travel to its snapshot)
    // and after the append (every timed full scan).
    val scans = (0, countSum(Icelite.readAsOf(spark, root, baseId))) +: fullScans.toSeq.map(1 -> _)
    val badScans = scans.collect { case (w, cs) if cs != closedForm(w) =>
      s"after write $w: (count, sum) $cs, closed form ${closedForm(w)}" }
    val scanCheck = Check("tile_store.full_scan_closed_form", badScans.isEmpty && fullScans.nonEmpty,
      if (badScans.isEmpty) s"${scans.length} scans match count and sum(id)" else badScans.take(3).mkString("; "))

    // Pruned reads: the kept table's ids row for row against a plain filter
    // on the generated rows; every timed read's count and sum against the same.
    val plain = readSets.map(set => bothWrites(ctx).filter(col("cell_p").cast("string").isin(set.toSeq: _*))
      .select("id").as[Long].collect().toSeq)
    val idChecks = readSets.indices.map { i =>
      Checks.rows(s"tile_store.pruned_read_$i", plain(i),
        Icelite.readWhere(spark, root, readSets(i).contains).select("id").as[Long].collect().toSeq)
    }
    val idOk = idChecks.find(!_.ok).getOrElse(Check("tile_store.pruned_vs_plain_filter",
      idChecks.nonEmpty, s"${idChecks.length} reads match row for row"))
    val sums = prunedScans.collect { case (i, cs) if cs != (plain(i).length.toLong, plain(i).sum) =>
      s"read $i: $cs" }
    val sumOk = Check("tile_store.pruned_every_round", sums.isEmpty && prunedScans.nonEmpty,
      if (sums.isEmpty) s"${prunedScans.length} reads match count and sum(id)" else sums.take(3).mkString("; "))

    // The merged tile table against bit-layout parents of both writes' cells.
    val want = Oracle.parentCounts(bothWrites(ctx).select("cell9").as[Long].collect(), TileRes)
    val got = merged.map(_.select("cell", "cnt").as[(Long, Long)].collect().toMap).getOrElse(Map.empty)
    val tilesOk = Checks.pyramid("tile_store.merged_tiles_vs_bit_parents", 2 * n,
      Map(TileRes -> want), Map(TileRes -> got))

    merged.foreach(_.unpersist(blocking = false))
    Icelite.drop(root)
    Seq(scanCheck, idOk, sumOk, tilesOk)
  }

  def layers(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val sampleIds = (from until from + math.min(n, 200000L)).toArray
    val cells = Kernels.latLngToCell(out, sampleIds.map(Synth.lat), sampleIds.map(Synth.lng), 9)
    Kernels.cellToParent(out, cells, PartitionRes)
    out("synth.points_s") = Kernels.medianOf(3) {
      tr.span("synth.points", "floor", "synth") {
        Synth.points(ctx.spark, from, n, ctx.partitions).write.format("noop").mode("overwrite").save()
      }
    }
    out.toMap
  }
}
