package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{LakeTable, MaterializedJoin, MergeClause, Scd, VersionedLakeTable}

/** One client on a few lake tables that age commit by commit: 7 reads and
  * 12 commits a round.
  *
  * Tables (under the set-up directory's `lake/`):
  *   - `orders` (id, grp, day, v, qty): the fact table; every DML records
  *     its change feed, which `readChanges` and the materialized join read;
  *   - `groups` (grp, region, weight): the join's dimension;
  *   - `orders_by_group`: `MaterializedJoin` of the two on `grp`;
  *   - `events` (eid, kind, day, amount): appends, SQL DML through
  *     `graft_lake(...)`, selective reads and SQL selects;
  *   - `snapshots` (k, v): a versioned table, read by time travel.
  *
  * The client keeps a reference model of every table. After each commit
  * it compares the table's row count and sums with the model, and each
  * time-travel read of version v with the state recorded at v, all
  * outside the timed operations.
  */
final class LakeMixed(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import LakeMixed._
  import spark.implicits._

  private var root = ""
  private var orders: LakeTable = _
  private var groups: LakeTable = _
  private var events: LakeTable = _
  private var snapshots: VersionedLakeTable = _
  private var view: MaterializedJoin = _

  private val rnd = new scala.util.Random(seed)
  private val om = mutable.LongMap.empty[Order]
  private val gm = mutable.Map.empty[Int, Long]
  private val em = mutable.LongMap.empty[Event]
  private val sm = mutable.LongMap.empty[Long]
  private val snapState = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var nextOrder = 0L
  private var nextEvent = 0L
  private var lastHistory = 0L
  private var rowsTouched = 0L
  private val readWhereScans = mutable.ArrayBuffer.empty[(Long, Long)]

  def lakeRoot: String = root

  private def ordersDf(rows: Seq[(Long, Order)]): DataFrame =
    rows.map { case (id, o) => (id, o.grp, o.day, o.v, o.qty) }.toDF("id", "grp", "day", "v", "qty")

  private def newOrder(): Order =
    Order(rnd.nextInt(Groups), rnd.nextInt(Days), rnd.nextInt(1000).toLong, 1L + rnd.nextInt(9))

  private def newEvent(): Event =
    Event(Kinds(rnd.nextInt(Kinds.length)), rnd.nextInt(EventDays), rnd.nextInt(500).toLong)

  def setup(repDir: String): Unit = {
    root = s"$repDir/lake"
    rnd.setSeed(seed)
    Seq(om, em, sm).foreach(_.clear()); gm.clear(); snapState.clear()
    nextOrder = 0; nextEvent = 0; lastHistory = 0; rowsTouched = 0; readWhereScans.clear()

    (0 until OrdersRows).foreach { _ => om(nextOrder) = newOrder(); nextOrder += 1 }
    (0 until Groups).foreach(g => gm(g) = 1L + rnd.nextInt(100))
    (0 until EventsRows).foreach { _ => em(nextEvent) = newEvent(); nextEvent += 1 }
    (0 until SnapshotRows).foreach(k => sm(k.toLong) = rnd.nextInt(1000).toLong)

    orders = LakeTable(spark, s"$root/orders").write(ordersDf(om.toSeq))
    groups = LakeTable(spark, s"$root/groups").write(
      gm.toSeq.map { case (g, w) => (g, s"region${g % 5}", w) }.toDF("grp", "region", "weight"))
    events = LakeTable(spark, s"$root/events").write(
      em.toSeq.map { case (id, e) => (id, e.kind, e.day, e.amount) }.toDF("eid", "kind", "day", "amount"))
    view = MaterializedJoin(spark, orders, groups, s"$root/orders_by_group", "id", "grp")
      .initialize()
    snapshots = VersionedLakeTable(spark, s"$root/snapshots")
      .write(sm.toSeq.toDF("k", "v"))
    recordSnapshot()
  }

  private def recordSnapshot(): Unit =
    snapState(snapshots.latestVersion) = (sm.size.toLong, sm.values.sum)

  // ---- the reference model's view of each table ----

  private def ordersTruth = (om.size.toLong, om.values.map(_.v).sum, om.values.map(_.qty).sum)
  private def eventsTruth = (em.size.toLong, em.values.map(_.amount).sum)
  private def viewTruth = (om.size.toLong, om.values.map(_.v).sum, om.values.map(o => gm(o.grp)).sum)

  private def sums(df: DataFrame, cols: String*): Seq[Long] = {
    val r = df.agg(count(lit(1)), cols.map(c => coalesce(sum(col(c)), lit(0L))): _*).head()
    (0 to cols.length).map(r.getLong)
  }

  private def verifyOrders(): Option[String] = {
    val got = sums(orders.read, "v", "qty")
    val t = ordersTruth
    expect(got == Seq(t._1, t._2, t._3), s"orders (count, sum v, sum qty) $got, model $t")
  }

  private def verifyEvents(): Option[String] = {
    val got = sums(events.read, "amount")
    val t = eventsTruth
    expect(got == Seq(t._1, t._2), s"events (count, sum amount) $got, model $t")
  }

  private def verifyView(): Option[String] = {
    val got = sums(view.read, "v", "weight")
    val t = viewTruth
    expect(got == Seq(t._1, t._2, t._3), s"view (count, sum v, sum weight) $got, model $t")
  }

  private def commitOrders(name: String, layerCall: String)(body: => Unit)(model: => Unit): Unit =
    run("write", name) { call("sources", layerCall)(body) } { _ => model; verifyOrders() }

  def round(): Unit = {
    // -- commits on the fact table (each records its change feed) --
    val g = rnd.nextInt(Groups)
    commitOrders("update", "update") {
      orders.update(Map("v" -> (col("v") + 1)), col("grp") === g, changeFeed = true)
    } {
      om.foreach { case (id, o) => if (o.grp == g) { om(id) = o.copy(v = o.v + 1); rowsTouched += 1 } }
    }

    val d = rnd.nextInt(Days)
    commitOrders("delete", "delete") {
      orders.delete(col("day") === d, changeFeed = true)
    } {
      val gone = om.collect { case (id, o) if o.day == d => id }
      rowsTouched += gone.size
      gone.foreach(om.remove)
    }

    val merges = batch(MergeRows)
    commitOrders("merge", "merge") {
      orders.merge(ordersDf(merges), Seq("id"),
        whenMatched = Seq(MergeClause.UpdateWhen(Map("v" -> col("s.v"), "qty" -> col("s.qty")))),
        insertUnmatched = true, changeFeed = true)
    } {
      merges.foreach { case (id, o) =>
        om(id) = om.get(id).map(_.copy(v = o.v, qty = o.qty)).getOrElse(o)
      }
      rowsTouched += merges.length
    }

    val changes = cdcBatch()
    commitOrders("cdc_apply", "cdc_apply") {
      Scd.applyChanges(orders,
        changes.map { case (id, seq, op, o) => (id, o.grp, o.day, o.v, o.qty, seq, op) }
          .toDF("id", "grp", "day", "v", "qty", "seq", "_op"),
        Seq("id"), "seq", changeFeed = true)
    } {
      changes.groupBy(_._1).values.map(_.maxBy(_._2)).foreach { case (id, _, op, o) =>
        if (op == "delete") om.remove(id) else om(id) = o
      }
      rowsTouched += changes.length
    }

    // -- the dimension moves, then the materialized join catches up --
    val dg = rnd.nextInt(Groups)
    run("write", "dim_update") {
      call("sources", "update")(
        groups.update(Map("weight" -> (col("weight") + 1)), col("grp") === dg, changeFeed = true))
    } { _ => gm(dg) += 1; rowsTouched += 1; None }
    run("write", "mv_refresh") { call("sources", "mv_refresh")(view.refresh()) } { _ => verifyView() }

    // -- appends and SQL DML on the events table --
    val appended = (0 until AppendRows).map { _ =>
      val e = newEvent(); val id = nextEvent; nextEvent += 1; id -> e
    }
    run("write", "append") {
      call("sources", "append")(events.write(
        appended.map { case (id, e) => (id, e.kind, e.day, e.amount) }
          .toDF("eid", "kind", "day", "amount"), SaveMode.Append))
    } { _ => appended.foreach { case (id, e) => em(id) = e }; rowsTouched += appended.length; verifyEvents() }

    val ud = rnd.nextInt(EventDays)
    run("write", "sql_update") {
      call("plans", "sql_dml")(spark.sql(
        s"UPDATE graft_lake('${events.path}') SET amount = amount + 1 WHERE day = $ud").collect())
    } { _ =>
      em.foreach { case (id, e) => if (e.day == ud) { em(id) = e.copy(amount = e.amount + 1); rowsTouched += 1 } }
      verifyEvents()
    }
    val dd = rnd.nextInt(EventDays)
    run("write", "sql_delete") {
      call("plans", "sql_dml")(spark.sql(
        s"DELETE FROM graft_lake('${events.path}') WHERE day = $dd").collect())
    } { _ =>
      val gone = em.collect { case (id, e) if e.day == dd => id }
      rowsTouched += gone.size
      gone.foreach(em.remove)
      verifyEvents()
    }

    // -- a new snapshot version --
    val sk = rnd.nextInt(10)
    run("write", "snapshot_update") {
      call("sources", "update")(snapshots.update(Map("v" -> (col("v") + 3)), col("k") % 10 === sk))
    } { _ =>
      sm.foreach { case (k, v) => if (k % 10 == sk) { sm(k) = v + 3; rowsTouched += 1 } }
      recordSnapshot()
      val got = sums(snapshots.read, "v")
      expect(got == Seq(sm.size.toLong, sm.values.sum), s"snapshot $got, model ${(sm.size, sm.values.sum)}")
    }

    // -- maintenance: recluster the events table and refresh its stats --
    run("write", "optimize") {
      call("sources", "optimize")(events.optimize(Seq("eid"), Some(4)).collectStats(Seq("eid", "day")))
    } { _ => verifyEvents() }

    // -- reads --
    run("read", "scan") {
      call("sources", "scan")(sums(orders.read, "v", "qty"))
    } { got => val t = ordersTruth; expect(got == Seq(t._1, t._2, t._3), s"scan $got, model $t") }

    val lo = rnd.nextInt(math.max(nextEvent.toInt - RangeWidth, 1)).toLong
    run("read", "read_where") {
      call("sources", "read_where")(sums(events.readWhere(col("eid").between(lo, lo + RangeWidth - 1)), "amount"))
    } { got =>
      if (tracer.traced) readWhereScans += (
        tracer.callsNamed("sources.read_where").lastOption.map(_.counts.inputBytes).getOrElse(0L) ->
          liveBytes(events))
      val hit = em.iterator.filter { case (id, _) => id >= lo && id < lo + RangeWidth }.map(_._2).toSeq
      expect(got == Seq(hit.size.toLong, hit.map(_.amount).sum), s"readWhere $got, model ${hit.size}")
    }

    val slo = rnd.nextInt(math.max(nextEvent.toInt - RangeWidth, 1)).toLong
    run("read", "sql_select") {
      call("plans", "sql_select")(spark.sql(
        s"SELECT count(*), coalesce(sum(amount), 0) FROM graft_lake('${events.path}') " +
          s"WHERE eid BETWEEN $slo AND ${slo + RangeWidth - 1}").head())
    } { r =>
      val hit = em.iterator.filter { case (id, _) => id >= slo && id < slo + RangeWidth }.map(_._2).toSeq
      expect(r.getLong(0) == hit.size && r.getLong(1) == hit.map(_.amount).sum,
        s"sql select $r, model ${hit.size}")
    }

    val versions = snapState.keys.toIndexedSeq
    val v = versions(rnd.nextInt(versions.length))
    run("read", "time_travel") {
      call("sources", "time_travel")(sums(snapshots.readVersion(v), "v"))
    } { got =>
      val (n, s) = snapState(v)
      expect(got == Seq(n, s), s"version $v reads $got, recorded ($n, $s)")
    }

    run("read", "history") { call("sources", "history")(orders.history.count()) } { n =>
      val grew = n > lastHistory
      lastHistory = n
      expect(grew, s"history did not grow: $n records")
    }

    run("read", "changes") {
      call("sources", "changes")(
        orders.readChanges(math.max(1L, orders.currentVersion - ChangeWindow)).count())
    } { n => expect(n > 0, "no change rows in the last versions") }

    run("read", "mv_read") { call("sources", "mv_read")(sums(view.read, "v", "weight")) } { got =>
      val t = viewTruth
      expect(got == Seq(t._1, t._2, t._3), s"view $got, model $t")
    }
  }

  /** `n` rows: half rewrite existing ids, half are new. */
  private def batch(n: Int): Seq[(Long, Order)] = {
    val ids = om.keys.toIndexedSeq
    val old = (0 until n / 2).map(_ => ids(rnd.nextInt(ids.length))).distinct
    val fresh = (0 until n - n / 2).map { _ => val id = nextOrder; nextOrder += 1; id }
    (old ++ fresh).map(id => id -> newOrder())
  }

  /** A CDC batch: one or two changes for each of `CdcKeys` keys, with
    * distinct sequence numbers within a key; a fifth of them deletes.
    */
  private def cdcBatch(): Seq[(Long, Long, String, Order)] = {
    val ids = om.keys.toIndexedSeq
    val keys = (0 until CdcKeys).map { i =>
      if (i % 4 == 0) { val id = nextOrder; nextOrder += 1; id } else ids(rnd.nextInt(ids.length))
    }.distinct
    keys.flatMap { id =>
      (1 to 1 + rnd.nextInt(2)).map { s =>
        (id, s.toLong, if (rnd.nextInt(5) == 0) "delete" else "upsert", newOrder())
      }
    }
  }

  private def liveBytes(t: LakeTable): Long = {
    val fs = Workload.fs(spark, t.path)
    t.read.inputFiles.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
  }

  override def finish(): Unit = {
    val tables = Seq(orders, groups, events, LakeTable(spark, s"$root/orders_by_group"))
    val files = tables.map(_.read.inputFiles.length).sum + snapshots.read.inputFiles.length
    layerFigures("live_files") = files.toDouble
    layerFigures("log_records") =
      (tables.map(_.history.count()).sum + snapshots.history.count()).toDouble
    if (readWhereScans.nonEmpty)
      layerFigures("read_input_ratio") = Stats.median(readWhereScans.map { case (in, live) =>
        in.toDouble / live }.toSeq)
    if (tracer.traced) {
      val written = tracer.opSpans.filter(_.kind == "write").map(_.counts.outputBytes).sum
      val liveRows = om.size + em.size + gm.size + om.size // the view holds one row per order
      val bytesPerRow = tables.map(liveBytes).sum.toDouble / liveRows
      layerFigures("write_amp") = written / math.max(rowsTouched * bytesPerRow, 1.0)
    }
    figures("live_rows_orders") = om.size.toDouble
    figures("live_rows_events") = em.size.toDouble
    figures("max_table_files") = (tables.map(_.read.inputFiles.length) :+
      snapshots.read.inputFiles.length).max.toDouble
  }
}

object LakeMixed {
  final case class Order(grp: Int, day: Int, v: Long, qty: Long)
  final case class Event(kind: String, day: Int, amount: Long)

  val OrdersRows = 8000
  val EventsRows = 8000
  val SnapshotRows = 2000
  val Groups = 40
  val Days = 100
  val EventDays = 200
  val Kinds = Seq("visit", "lab", "rx", "claim")
  val MergeRows = 150
  val CdcKeys = 100
  val AppendRows = 400
  val RangeWidth = 500
  val ChangeWindow = 5L
}
