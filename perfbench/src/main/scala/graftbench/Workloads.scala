package graftbench

import graft.engine.GraftEngine
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** One ad-hoc read: the SQL text and the answer the benchmark's own model
  * of the tables expects, as rows of plain values in result order. */
final case class Probe(sql: String, expected: Seq[Seq[Any]])

/** A workload: its tables, MVs and subscriptions, the rows of every epoch
  * (drawn from the seed) and a model of the tables that answers the ad-hoc
  * reads (point lookups on an MV, a top-10 over it and one aggregate over
  * the base table). A fresh instance replays the same inputs, so every set-up round
  * builds the same state. */
trait Workload {
  def name: String
  /** MV name → defining statement, in creation order. */
  def mvs: Seq[(String, String)]
  /** Subscribed relations (leaf MVs or tables) → the statement that
    * recomputes their content in batch. */
  def subscribed: Seq[(String, String)]
  /** Untimed epochs between the set-up and the timed loop, so the timed
    * epochs run with the epoch path's code compiled by the JIT. */
  def warmupEpochs: Int
  /** DDL and the initial load, before any MV exists. */
  def createTables(rw: GraftEngine): Unit
  /** The next epoch's rows per table; also applies them to the model. */
  def nextEpoch(): Seq[(String, Seq[Row])]
  /** A fixed batch of ad-hoc reads with the answers the model expects now. */
  def probes(): Seq[Probe]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "mv_fanout" => new MvFanout(seed)
    case "append_firehose" => new AppendFirehose(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("mv_fanout", "append_firehose")

  private[graftbench] def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** (key, value) pairs in [[Probe.expected]] form: the top `n` by value
    * descending, ties by key ascending. */
  private[graftbench] def topBy(rows: Iterable[(Long, Long)], n: Int): Seq[Seq[Any]] =
    rows.toSeq.sortBy { case (k, v) => (-v, k) }.take(n).map { case (k, v) => Seq(k, v) }
}

/** Keyed rows of a PK table as the benchmark models them: key → values. */
private final class PkModel[V] {
  val rows = mutable.LongMap.empty[V]
  var nextKey = 0L
  /** `fresh` new keys, then `overwrite` draws of existing keys (which may
    * repeat inside one epoch: the later row wins, as in the engine). */
  def keys(rng: SplittableRandom, fresh: Int, overwrite: Int): Seq[Long] = {
    val existing = nextKey
    val news = (0 until fresh).map(_ => { nextKey += 1; nextKey - 1 })
    val olds = if (existing == 0) Nil else (0 until overwrite).map(_ => rng.nextLong(existing))
    news ++ olds
  }
}

/** Small epochs into a PK events table with three dependent MVs: a keyed
  * COUNT/SUM fold, a cascade rollup over it and a LEFT-join enrichment with
  * a 250-row PK dimension. About half of each epoch overwrites existing
  * keys, so the folds retract. */
final class MvFanout(seed: Long) extends Workload {
  val name = "mv_fanout"
  val warmupEpochs = 8
  private val rng = new SplittableRandom(seed)
  private val events = new PkModel[(Long, String, Long, Long)] // user, region, item, amount
  private val Users = 2000L
  private val Items = 250L

  val mvs = Seq(
    "fan_user_totals" ->
      """SELECT region, user_id, COUNT(*) AS n, SUM(amount) AS total
        |FROM fan_events GROUP BY region, user_id""".stripMargin,
    "fan_region_rollup" ->
      """SELECT region, COUNT(*) AS users, SUM(n) AS n, SUM(total) AS total
        |FROM fan_user_totals GROUP BY region""".stripMargin,
    "fan_enriched" ->
      """SELECT e.id, e.user_id, e.amount, i.category
        |FROM fan_events e LEFT JOIN fan_items i ON i.item_id = e.item_id""".stripMargin)
  val subscribed = Seq(
    "fan_region_rollup" -> mvs(1)._2.replace("fan_user_totals", s"(${mvs.head._2})"),
    "fan_enriched" -> mvs(2)._2)

  def createTables(rw: GraftEngine): Unit = {
    rw.createTable("fan_items", Workload.schema("item_id" -> LongType,
      "category" -> StringType, "price" -> LongType), primaryKey = Seq("item_id"))
    rw.table("fan_items").get.insert(
      (0L until Items).map(i => Row(i, s"c${i % 12}", 1 + (i * 37) % 500)))
    rw.createTable("fan_events", Workload.schema("id" -> LongType, "user_id" -> LongType,
      "region" -> StringType, "item_id" -> LongType, "amount" -> LongType),
      primaryKey = Seq("id"))
    rw.table("fan_events").get.insert(rows(10000, 0))
  }

  private def rows(fresh: Int, overwrite: Int): Seq[Row] =
    events.keys(rng, fresh, overwrite).map { id =>
      val user = rng.nextLong(Users)
      // one item id in eleven has no dimension row: the LEFT join pads it
      val v = (user, s"r${user % 8}", rng.nextLong(Items + Items / 10), 1 + rng.nextLong(1000))
      events.rows(id) = v
      Row(id, v._1, v._2, v._3, v._4)
    }

  def nextEpoch(): Seq[(String, Seq[Row])] = Seq("fan_events" -> rows(1000, 1000))

  def probes(): Seq[Probe] = {
    val byUser = mutable.LongMap.empty[(Long, Long)]
    events.rows.valuesIterator.foreach { case (u, _, _, a) =>
      val (n, t) = byUser.getOrElse(u, (0L, 0L)); byUser(u) = (n + 1, t + a)
    }
    val lookups = (0 until 16).map { _ =>
      val u = rng.nextLong(Users)
      Probe(s"SELECT n, total FROM fan_user_totals WHERE user_id = $u",
        byUser.get(u).map { case (n, t) => Seq(Seq(n, t)) }.getOrElse(Nil))
    }
    lookups ++ Seq(
      Probe("SELECT user_id, total FROM fan_user_totals ORDER BY total DESC, user_id LIMIT 10",
        Workload.topBy(byUser.map { case (u, (_, t)) => (u, t) }, 10)),
      Probe("SELECT COUNT(*) AS n, SUM(amount) AS total FROM fan_events",
        Seq(Seq(events.rows.size.toLong, events.rows.valuesIterator.map(_._4).sum))))
  }
}

/** Large epochs into an append-only table (no PK) with one tumble-window
  * MV on the Structured Streaming path and a subscription straight on the
  * table. A small share of each epoch arrives late by up to one window.
  * The history passes the driver tail's spill threshold inside the run. */
final class AppendFirehose(seed: Long) extends Workload {
  val name = "append_firehose"
  val warmupEpochs = 6
  private val rng = new SplittableRandom(seed)
  private val WindowMs = 10000L
  private val BaseMs = 1700000000000L
  private val Sensors = 32L
  private var epoch = 0L
  // (sensor, event-time ms, value) of every row ingested so far
  private val history = mutable.ArrayBuffer[(Long, Long, Long)]()

  val mvs = Seq("fire_tumble" ->
    """SELECT window_start, window_end, sensor, COUNT(*) AS n, SUM(v) AS total
      |FROM tumble(fire_events, ts, interval '10 seconds')
      |GROUP BY window_start, window_end, sensor""".stripMargin)
  val subscribed = Seq("fire_events" -> "SELECT * FROM fire_events")

  def createTables(rw: GraftEngine): Unit = {
    rw.createTable("fire_events",
      Workload.schema("sensor" -> LongType, "ts" -> TimestampType, "v" -> LongType))
    rw.table("fire_events").get.insert((0 until 2).flatMap(_ => rows(10000)))
  }

  /** One epoch covers the next window of event time; 2% of its rows are
    * late by up to one window. */
  private def rows(n: Int): Seq[Row] = {
    val start = BaseMs + epoch * WindowMs
    epoch += 1
    (0 until n).map { _ =>
      val late = if (rng.nextInt(50) == 0) rng.nextLong(WindowMs) else 0L
      val t = start + rng.nextLong(WindowMs) - late
      val r = (rng.nextLong(Sensors), t, 1 + rng.nextLong(100))
      history += r
      Row(r._1, new java.sql.Timestamp(r._2), r._3)
    }
  }

  def nextEpoch(): Seq[(String, Seq[Row])] = Seq("fire_events" -> rows(10000))

  def probes(): Seq[Probe] = {
    val cells = mutable.HashMap.empty[(Long, Long), (Long, Long)] // (window, sensor) → (n, total)
    history.foreach { case (s, t, v) =>
      val k = (Math.floorDiv(t, WindowMs) * WindowMs, s)
      val (n, tot) = cells.getOrElse(k, (0L, 0L)); cells(k) = (n + 1, tot + v)
    }
    val windows = cells.keys.map(_._1).toIndexedSeq.distinct.sorted
    val lookups = (0 until 16).map { _ =>
      val w = windows(rng.nextInt(windows.size)); val s = rng.nextLong(Sensors)
      Probe(s"SELECT n, total FROM fire_tumble WHERE window_start = " +
        s"timestamp_millis($w) AND sensor = $s",
        cells.get((w, s)).map { case (n, t) => Seq(Seq(n, t)) }.getOrElse(Nil))
    }
    val perSensor = cells.groupMapReduce(_._1._2)(_._2._2)(_ + _)
    lookups ++ Seq(
      Probe("SELECT sensor, SUM(total) AS t FROM fire_tumble GROUP BY sensor " +
        "ORDER BY t DESC, sensor LIMIT 10", Workload.topBy(perSensor, 10)),
      Probe("SELECT COUNT(*) AS n, SUM(v) AS total FROM fire_events",
        Seq(Seq(history.size.toLong, history.iterator.map(_._3).sum))))
  }
}
