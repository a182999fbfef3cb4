package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Merge, VersionStore}
import graft.io.Tables

/** The daily-load workload: a [[VersionStore]] table kept from `orders`
  * that takes one seeded change batch per day.
  *
  * Each day is one write (`Merge.mergeVersioned`), two reads (an
  * aggregate of the latest version and of the version before the
  * write, through `VersionStore.asOf`), and, every [[MaintainEvery]]th
  * day, `optimizeSorted` + `vacuum(keepLast = 2)`. A batch touches
  * [[TouchShare]] of the live keys: most are updated (some twice, the
  * later change winning by event time), a share are deleted, and as
  * many fresh keys are inserted as were deleted, so the table keeps its
  * size however many days a run lasts.
  *
  * The generator keeps the table's expected per-status row count and
  * exact price sum, so every read is checked against a reference that
  * shares no code with graft. */
final class Lakehouse(spark: SparkSession, data: String, work: String,
                      seed: Long, cores: Int) {
  import Lakehouse._

  val root: String = s"$work/lake"
  private val stage = s"$work/changes"

  private var payload: StructType = _
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  private val rowOf = mutable.LongMap.empty[(String, Long)]
  private var nextKey = 0L
  private var seq = 0L
  private var day = 0
  private var plannedDays = 0

  /** Expected aggregate of the latest version: status -> (rows, cents). */
  private var now = Map.empty[String, (Long, Long)]
  /** Expected aggregate of the version before the last write. */
  private var before = Map.empty[String, (Long, Long)]
  /** The version the last write merged into. */
  private var previousVersion = -1L
  private var latestVersion = -1L

  /** Bytes of change input staged so far. */
  var changeBytes = 0L
  /** Bytes the store's writes and rewrites produced so far. */
  var bytesWritten = 0L

  /** Writes the base table (all of `orders`) as version 0 and loads the
    * reference state. */
  def setup(): Unit = {
    val base = Tables(spark, data).orders
    payload = base.schema
    latestVersion = VersionStore.write(base, root)
    bytesWritten += treeBytes(versionDir(latestVersion))
    base.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)))
      .collect().foreach { r =>
        add(r.getLong(0), r.getString(1),
          r.getDecimal(2).unscaledValue.longValueExact)
      }
    nextKey = keys.max + 1
    now = aggregate()
  }

  private def add(k: Long, status: String, cents: Long): Unit = {
    slot(k) = keys.size
    keys += k
    rowOf(k) = (status, cents)
  }

  private def remove(k: Long): Unit = {
    val i = slot.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; slot(last) = i }
    rowOf.remove(k)
  }

  private def aggregate(): Map[String, (Long, Long)] =
    rowOf.values.groupBy(_._1).map { case (s, rows) =>
      s -> (rows.size.toLong, rows.iterator.map(_._2).sum)
    }

  /** One pass: [[DaysPerPass]] days of ops, each day's batch staged
    * before (and outside the timing of) its write. `order` permutes
    * the two reads of a day. */
  def passOps(order: Random): Seq[Op] =
    (1 to DaysPerPass).flatMap { _ =>
      plannedDays += 1
      val write = Op("merge_day", "write", prepare = () => stageDay(),
        run = clk => {
          val v = Merge.mergeVersioned(spark, root,
            spark.read.parquet(s"$stage/day=$day"), Seq("o_orderkey"),
            col("event_ms"), col("change_seq"), Some("is_delete"))
          clk.mark()
          clk.end()
          bytesWritten += treeBytes(versionDir(v))
          previousVersion = latestVersion
          latestVersion = v
          if (v == previousVersion + 1) Outcome(1, s"v$v", None)
          else Outcome(1, s"v$v", Some(s"expected version ${previousVersion + 1}"))
        })
      val reads = order.shuffle(Seq(
        Op("read_latest", "read", run = clk =>
          checkRead(clk, VersionStore.latest(spark, root), now)),
        Op("read_asof", "read", run = clk =>
          checkRead(clk, VersionStore.asOf(spark, root, previousVersion), before))))
      val maintain =
        if (plannedDays % MaintainEvery != 0) Nil
        else Seq(Op("maintain", "maintenance", run = clk => {
          val v = VersionStore.optimizeSorted(spark, root, Seq("o_orderkey"),
            minFiles = cores)
          VersionStore.vacuum(spark, root, keepLast = 2)
          clk.mark()
          clk.end()
          bytesWritten += treeBytes(versionDir(v))
          latestVersion = v
          val live = VersionStore.versions(spark, root)
          if (live == Seq(v - 1, v)) Outcome(live.size, s"v$v", None)
          else Outcome(live.size, s"v$v", Some(s"versions after vacuum: $live"))
        }))
      write +: (reads ++ maintain)
    }

  private def checkRead(clk: Clock, df: DataFrame,
                        want: Map[String, (Long, Long)]): Outcome = {
    clk.mark()
    val got = Checks.observed(df.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("amt")),
        clk.id)
      .collect()
    clk.end()
    // a wrong table can hold null statuses or prices: keep them comparable
    val m = got.map(r => String.valueOf(r.get(0)) ->
      (r.getLong(1), Option(r.getDecimal(2)).fold(-1L)(_.unscaledValue.longValueExact)))
      .toMap
    val sig = m.toSeq.sorted.map { case (s, (n, c)) => s"$s:$n:$c" }.mkString(",")
    Outcome(got.length, sig,
      if (m == want) None else Some(s"expected ${want.toSeq.sorted}"))
  }

  /** Generates the next day's change batch, writes it as parquet (the
    * day's load landing in storage), and advances the reference. */
  private def stageDay(): Unit = {
    day += 1
    val rng = new Random(seed * 1000003L + day)
    val dayMs = EpochMs + day * DayMs
    val changes = mutable.ArrayBuffer.empty[(Long, Long, Boolean, Row)]
    def upsertRow(k: Long, t: Long): (Long, Long, Boolean, Row) = {
      val status = Statuses(rng.nextInt(Statuses.length))
      val cents = 100L + rng.nextInt(50000000)
      val values = payload.fields.map { f =>
        f.name match {
          case "o_orderkey" => k
          case "o_custkey" => 1L + rng.nextInt(15000)
          case "o_orderstatus" => status
          case "o_totalprice" => cents / 100.0
          case "o_orderdate" => timestampValue(f.dataType, t)
          case "o_orderpriority" => Priorities(rng.nextInt(Priorities.length))
          case other => sys.error(s"unexpected orders column $other")
        }
      }
      (t, k, false, Row.fromSeq(values.toIndexedSeq))
    }
    val touched = mutable.LinkedHashSet.empty[Long]
    val want = math.max(1, (keys.size * TouchShare).toInt)
    while (touched.size < want) touched += keys(rng.nextInt(keys.size))
    var deletes = 0
    touched.foreach { k =>
      val t = dayMs + rng.nextInt((DayMs / 2).toInt)
      if (rng.nextDouble() < DeleteShare) {
        val values = payload.fields.map(f => if (f.name == "o_orderkey") k else null)
        changes += ((t, k, true, Row.fromSeq(values.toIndexedSeq)))
        remove(k)
        deletes += 1
      } else {
        if (rng.nextDouble() < SupersededShare) changes += upsertRow(k, t)
        val last = upsertRow(k, t + 1 + rng.nextInt((DayMs / 2).toInt - 1))
        changes += last
        rowOf(k) = rowValue(last._4)
      }
    }
    (1 to deletes).foreach { _ =>
      val k = nextKey
      nextKey += 1
      val r = upsertRow(k, dayMs + rng.nextInt(DayMs.toInt))
      changes += r
      val (status, cents) = rowValue(r._4)
      add(k, status, cents)
    }
    val schema = StructType(payload.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("event_ms", LongType), StructField("change_seq", LongType),
      StructField("is_delete", BooleanType)))
    val rows = changes.sortBy(c => (c._1, c._2)).map { case (t, _, del, r) =>
      seq += 1
      Row.fromSeq(r.toSeq ++ Seq(t, seq, del))
    }
    val path = s"$stage/day=$day"
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    changeBytes += treeBytes(path)
    before = now
    now = aggregate()
  }

  private def rowValue(r: Row): (String, Long) =
    (r.getString(payload.fieldIndex("o_orderstatus")),
      BigDecimal(r.getDouble(payload.fieldIndex("o_totalprice")))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).underlying.unscaledValue
        .longValueExact)

  private def versionDir(v: Long): String = s"$root/v=$v"

  /** Bytes under the store root, the number of files there, and the
    * bytes of the latest version. */
  def storeState(): (Long, Long, Long) = {
    val files = listFiles(root)
    (files.map(Files.size).sum, files.size.toLong,
      treeBytes(versionDir(latestVersion)))
  }
}

object Lakehouse {
  val DaysPerPass = 4
  val MaintainEvery = 4
  val TouchShare = 0.05
  val DeleteShare = 0.2
  val SupersededShare = 0.1
  private val DayMs = 86400000L
  private val EpochMs = 946684800000L // 2000-01-01T00:00:00Z
  private val Statuses = Array("F", "O", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def timestampValue(t: DataType, ms: Long): Any = t match {
    case TimestampNTZType =>
      java.time.LocalDateTime.ofEpochSecond(ms / 1000, 0, java.time.ZoneOffset.UTC)
    case TimestampType => new java.sql.Timestamp(ms / 1000 * 1000)
    case other => sys.error(s"o_orderdate has unexpected type $other")
  }

  private def listFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def treeBytes(dir: String): Long = listFiles(dir).map(Files.size).sum
}
