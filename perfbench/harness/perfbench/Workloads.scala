package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.Pipeline
import graft.sources.{Sink, Snapshot, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Glue job over the star schema: every pass builds the
  * seven warehouse frames with `Pipeline.warehouse` and writes each
  * through `Sink` (atomic overwrite; the fact bucketed on l_orderkey). */
final class EtlBuild extends Harness.Workload {
  def minPasses: Int = 2

  def setup(ctx: Harness.Ctx): Unit = ()

  private def out(ctx: Harness.Ctx) = s"${ctx.work}/etl"

  private def partFiles(path: String): Int =
    Option(new java.io.File(path).listFiles()).map(_.count(_.getName.startsWith("part-")))
      .getOrElse(0)

  def pass(ctx: Harness.Ctx): Unit = {
    var wh = Map.empty[String, DataFrame]
    ctx.op("warehouse_frames") {
      wh = ctx.span("operators")(Pipeline.warehouse(ctx.spark, ctx.data))
      true
    }
    wh.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val path = s"${out(ctx)}/$name"
      ctx.op(s"write_$name") {
        ctx.span("Sink") {
          if (name == "fact_lineitem") Sink.overwriteBucketed(df, path, "l_orderkey", ctx.cores)
          else Sink.overwrite(df, path)
        }
        true
      }
      ctx.count("Sink.files_written", partFiles(path).toDouble)
    }
    ctx.checks += "fact_rows" ->
      ctx.spark.read.parquet(s"${out(ctx)}/fact_lineitem").count().toString
  }

  /** The written tables under `<work>/etl` are what the oracle checks. */
  def dump(ctx: Harness.Ctx, dir: String): Unit = ()
}

/** The snapshot store's write path: set-up lays the events table out
  * under `event_date` and bootstraps a manifest over it. Each cycle
  * appends one day's events again under new keys (a daily batch),
  * corrects it with SQL UPDATE through a GraftCatalog table, upserts the
  * original images back by key (an equality delete, folded into position
  * vectors at once because the other writers refuse outstanding ones),
  * forgets the batch with a merge-on-read delete, folds the deletion
  * vectors with `materializeDeletes` and reads the latest snapshot,
  * which must equal the base rows again. A pass, one cycle, is one whole
  * maintenance period.
  *
  * Every step is checked: the append must move the version, the other
  * writers must report the batch's rows as marked or applied, and,
  * untimed, the batch read back after the UPDATE must hold the day's
  * values plus one, and after the upsert the day's values again. */
final class StoreChurn extends Harness.Workload {
  private val KeyOffset = 1000000000000L
  private var path = ""
  private var baseDigest = ""
  private var cycle = 0
  private var version = 0L
  /** (event_date, rows, exact sum of value) of the base table; cycle c
    * re-loads day c */
  private var days = IndexedSeq.empty[(String, Long, java.math.BigDecimal)]
  private var bytesPerRow = 0.0

  def minPasses: Int = 3

  private def base(ctx: Harness.Ctx): DataFrame =
    Tables.load(ctx.spark, ctx.data, "events")
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))

  private val dataCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** value has two decimals: summed as a decimal, the sum is exact */
  private val valueSum = sum(col("value").cast("decimal(20,2)"))

  private def liveDigest(df: DataFrame): String = {
    val cs = dataCols.map(col)
    // two independent row hashes, summed without overflow: a multiset digest
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(cs: _*), lit(Int.MaxValue.toLong))),
        sum(hash(cs: _*).cast("long")))
      .collect()(0)
    r.toSeq.mkString("/")
  }

  /** Whether the live rows with keys in [lo, hi) on `day` are `rows`
    * rows whose values sum to `total`. */
  private def batchHolds(ctx: Harness.Ctx, day: String, lo: Long, hi: Long, rows: Long,
      total: java.math.BigDecimal): Boolean = {
    val r = Snapshot.readSnapshot(ctx.spark, path)
      .where(col("event_date") === day && col("event_id") >= lo && col("event_id") < hi)
      .agg(count(lit(1)), valueSum).collect()(0)
    r.getLong(0) == rows && r.getDecimal(1).compareTo(total) == 0
  }

  private def dirBytes(d: java.io.File): Long =
    Option(d.listFiles()).map(_.map(f => if (f.isDirectory) dirBytes(f) else f.length).sum)
      .getOrElse(0L)

  def setup(ctx: Harness.Ctx): Unit = {
    val spark = ctx.spark
    val wh = s"${ctx.work}/store"
    path = s"$wh/events"
    base(ctx).repartition(col("event_date")).write.partitionBy("event_date").parquet(path)
    Snapshot.init(spark, path, "event_date", eqDeletes = true)
    spark.conf.set("spark.sql.catalog.bench", classOf[graft.sources.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bench.warehouse", wh)
    baseDigest = liveDigest(Snapshot.readSnapshot(spark, path))
    version = Snapshot.currentVersion(spark, path).getOrElse(0L)
    days = base(ctx).groupBy("event_date").agg(count(lit(1)), valueSum).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).sortBy(_._1).toIndexedSeq
    bytesPerRow = dirBytes(new java.io.File(path)).toDouble / days.map(_._2).sum
  }

  private def manifestStats(): (Long, Int) = {
    val dir = new java.io.File(s"$path/_manifests")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
    val latest = files.filter(_.getName.matches("m-\\d+")).maxByOption(_.getName.drop(2).toLong)
    val depth = latest.map(f => Files.readAllLines(f.toPath).asScala.count(_.startsWith("@")))
      .getOrElse(0)
    (files.map(_.length).sum, depth)
  }

  def pass(ctx: Harness.Ctx): Unit = {
    val spark = ctx.spark
    val c = cycle
    cycle += 1
    val lo = KeyOffset * (c + 1)
    val hi = lo + KeyOffset
    val (day, dayRows, daySum) = days(c % days.size)
    val batch = base(ctx).where(col("event_date") === day)
      .withColumn("event_id", col("event_id") + lit(lo))
    val meta0 = if (ctx.traced) manifestStats()._1 else 0L
    val v0 = version

    ctx.op("append") {
      ctx.span("Snapshot", "append")(Snapshot.append(spark, path, "event_date", batch)) > v0
    }
    ctx.op("sql_update") {
      ctx.span("sql")(spark.sql(
        s"UPDATE bench.events SET value = value + 1 WHERE event_id >= $lo AND event_id < $hi"))
      true
    }
    ctx.verify("UPDATE added 1 to every batch row") {
      batchHolds(ctx, day, lo, hi, dayRows, daySum.add(java.math.BigDecimal.valueOf(dayRows)))
    }
    ctx.op("upsert") {
      ctx.span("Snapshot", "upsert")(
        Snapshot.upsertByKeys(spark, path, "event_date", batch, Seq("event_id")))
      true
    }
    ctx.verify("upsert restored the batch's values") {
      batchHolds(ctx, day, lo, hi, dayRows, daySum)
    }
    ctx.op("convert_eq") {
      ctx.span("Snapshot", "convert")(Snapshot.convertEqDeletes(spark, path))._2 == dayRows
    }
    ctx.op("forget") {
      ctx.span("Snapshot", "delete")(Snapshot.deleteWhereMoR(spark, path, "event_date",
        col("event_id") >= lit(lo) && col("event_id") < lit(hi)))._2 == dayRows
    }
    if (ctx.traced) {
      // the debt this cycle's fold pays off
      val audit = Snapshot.dvAudit(spark, path)
      ctx.gauge("Snapshot.dv_backlog", audit.vectors.toDouble)
      ctx.gauge("Snapshot.live_files", audit.liveFiles.toDouble)
    }
    ctx.op("materialize") {
      // the UPDATE's, the conversion's and the delete's vectors, one batch each
      ctx.span("Snapshot", "materialize")(
        Snapshot.materializeDeletes(spark, path, "event_date")).map(_._2).sum == 3 * dayRows
    }
    ctx.op("read") {
      ctx.span("Snapshot", "read")(liveDigest(Snapshot.readSnapshot(spark, path))) == baseDigest
    }
    version = Snapshot.currentVersion(spark, path).getOrElse(0L)

    if (ctx.traced) {
      val (meta1, depth) = manifestStats()
      ctx.count("Snapshot.commits", (version - v0).toDouble)
      ctx.count("Snapshot.metadata_bytes", (meta1 - meta0).toDouble)
      // append, update, upsert and delete each change the batch's rows once
      ctx.count("Snapshot.changed_bytes", 4 * dayRows * bytesPerRow)
      ctx.gauge("Snapshot.manifest_depth", depth.toDouble)
    }
  }

  /** The live table after the last cycle, for the check against the source. */
  def dump(ctx: Harness.Ctx, dir: String): Unit =
    Snapshot.readSnapshot(ctx.spark, path).select(dataCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$dir/live")
}
