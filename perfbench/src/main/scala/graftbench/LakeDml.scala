package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeSql}

/** The `lake_dml` workload: a seeded sequence of public `GraftLake` and
  * `LakeSql` calls on four tables built from `orders`, reset before
  * every pass so each pass grows its logs from the same start.
  *
  *  - `cow`:  copy-on-write append/merge/delete/deleteKeys/update, plus
  *            compact, vacuum and time travel;
  *  - `dv`:   deletion-vector mergeDv/deleteDv/updateDv;
  *  - `cdf`:  change-data-feed table written by SQL MERGE and
  *            DELETE ... IN, read by changesTyped;
  *  - `part`: a partitioned table taking partitioned appends, read by
  *            changesSince (its feed is inserts only).
  *
  * Every call is checked against an in-memory model of each table
  * (row count and the sum of `cents` per version, change-feed rows per
  * version); after each timed pass, outside the timed region, every table is
  * compared by digest with a reference rebuilt from the pass's
  * operations using plain DataFrame operations.
  */
final class LakeDml(spark: SparkSession, data: String, root: String, spec: JsonNode)
    extends Main.Workload {
  import LakeDml._

  private val keyMod = spec.get("lake").get("key_mod").asLong
  private var base: DataFrame = _
  private var baseCents: mutable.LongMap[Long] = _
  private var bytesPerRow = 1.0
  private var dir = ""
  private def path(t: String) = s"$dir/$t"

  // Model: per table key -> cents, and per version (rows, sum cents).
  private val model = mutable.Map[String, mutable.LongMap[Long]]()
  private val history = mutable.Map[String, mutable.Map[Int, (Long, Long)]]()
  // Change-feed rows per version: typed CDF of `cdf`, inserts of `part`.
  private val changeRows = mutable.Map[String, mutable.Map[Int, Long]]()
  private val seen = mutable.Set[String]()
  private val passOps = mutable.ArrayBuffer[JsonNode]()
  private val stats = mutable.Map[String, Double]().withDefaultValue(0.0)

  def prepare(): Unit = {
    base = spark.read.parquet(s"$data/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(keyMod)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        year(col("o_orderdate")).as("yr"))
      .localCheckpoint()
    baseCents = mutable.LongMap.from(
      base.select("o_orderkey", "cents").collect().map(r => r.getLong(0) -> r.getLong(1)))
    if (!Files.exists(Paths.get(s"$root/pristine"))) build(s"$root/pristine")
  }

  /** The four tables in their starting state: the keyed ones as two
    * commits of half the keys each (so point deltas can prune sets),
    * the partitioned one by year.
    */
  private def build(at: String): Unit = {
    val halves = (0 until 2).map(h =>
      base.filter(col("o_orderkey") % lit(2 * keyMod) === h * keyMod).drop("yr"))
    for (t <- Seq("cow", "dv", "cdf")) {
      GraftLake.create(halves(0), s"$at/$t", Some("o_orderkey"))
      GraftLake.append(halves(1), s"$at/$t", Some("o_orderkey"))
    }
    GraftLake.enableDeletionVectors(s"$at/dv")
    GraftLake.enableCdf(s"$at/cdf")
    GraftLake.appendPartitioned(base, s"$at/part", "yr", Seq("o_orderkey"))
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    }

  private def rows(keys: Array[Long]): DataFrame =
    spark.createDataFrame(keys.toSeq.map(Tuple1(_))).toDF("o_orderkey")

  /** Rows for `keys` as the base table has them, `cents` bumped. */
  private def baseRows(keys: Array[Long], bump: Long): DataFrame =
    base.join(broadcast(rows(keys)), "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"), (col("cents") + bump).as("cents"))

  /** New rows under fresh keys: status 'A', cents derived from the key. */
  private def freshRows(keys: Array[Long]): DataFrame =
    rows(keys).select(col("o_orderkey"), lit("A").as("o_orderstatus"),
      pmod(col("o_orderkey"), lit(100000L)).as("cents"))

  private def freshCents(k: Long): Long = Math.floorMod(k, 100000L)

  private def version(t: String): Int = GraftLake.latestVersion(path(t))

  private def record(t: String): Unit = {
    val m = model(t)
    history(t)(version(t)) = (m.size.toLong, m.valuesIterator.sum)
  }

  /** Each pass starts from a copy of the pristine tables. */
  override def beginPass(label: String): Unit = {
    dir = s"$root/$label"
    copyTree(Paths.get(s"$root/pristine"), Paths.get(dir))
    LakeSql.register(spark, path("cdf"), CdfName, "o_orderkey")
    for (t <- Tables) {
      model(t) = baseCents.clone()
      history(t) = mutable.Map()
      record(t)
    }
    for (t <- Seq("cdf", "part")) changeRows(t) = mutable.Map(version(t) -> 0L)
    seen.clear()
    seen ++= files(Paths.get(dir)).keys
    bytesPerRow = files(Paths.get(path("cow"))).values.sum.toDouble / baseCents.size
    passOps.clear()
  }

  private def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap

  def describe(op: JsonNode): Map[String, Any] = {
    val call = op.get("call").asText
    Map("kind" -> "lake", "name" -> call, "class" -> classOf(call),
      "size" -> Option(op.get("size")).map(_.asText).getOrElse("-"))
  }

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def run(op: JsonNode): Option[String] = {
    val call = op.get("call").asText
    val table = op.get("table").asText
    val keys = Json.longs(op.get("keys"))
    val bump = Option(op.get("bump")).map(_.asLong).getOrElse(0L)
    val m = model(table)
    val p = path(table)
    passOps += op
    def lake[T](body: => T): T = Tracer.span("lake", call, Map("size" -> describe(op)("size")))(body)
    // Expected effect of the delta on the model.
    lazy val present = keys.count(m.contains).toLong
    def upsert(): Unit = keys.foreach(k => m(k) = baseCents(k) + bump)
    def remove(): Unit = keys.foreach(m.remove)
    def bumpAll(): Unit = keys.foreach(k => m.get(k).foreach(c => m(k) = c + bump))
    val err: Option[String] = call match {
      case "append" =>
        lake(GraftLake.append(freshRows(keys), p, Some("o_orderkey")))
        keys.foreach(k => m(k) = freshCents(k)); None
      case "append_part" =>
        val df = freshRows(keys).withColumn("yr", lit(2030))
        lake(GraftLake.appendPartitioned(df, p, "yr", Seq("o_orderkey")))
        keys.foreach(k => m(k) = freshCents(k))
        changeRows(table)(version(table)) = keys.length; None
      case "merge" =>
        lake(GraftLake.merge(spark, p, baseRows(keys, bump), Seq("o_orderkey"), "o_orderkey"))
        upsert(); None
      case "merge_dv" =>
        val n = present
        val (_, matched, inserted) =
          lake(GraftLake.mergeDv(spark, p, baseRows(keys, bump), Seq("o_orderkey"), "o_orderkey"))
        upsert()
        expect("mergeDv matched", matched, n).orElse(expect("mergeDv inserted", inserted, keys.length - n))
      case "delete" =>
        val n = present
        val (_, _, _, deleted) = lake(GraftLake.delete(spark, p, inKeys(keys), Some("o_orderkey")))
        remove(); expect("delete rows", deleted, n)
      case "delete_dv" =>
        val n = present
        val (_, deleted) = lake(GraftLake.deleteDv(spark, p, inKeys(keys)))
        remove(); expect("deleteDv rows", deleted, n)
      case "delete_keys" =>
        val n = present
        val (_, _, _, deleted) =
          lake(GraftLake.deleteKeys(spark, p, rows(keys), "o_orderkey", Some("o_orderkey")))
        remove(); expect("deleteKeys rows", deleted, n)
      case "update" =>
        val n = present
        val (_, _, _, updated) = lake(GraftLake.update(spark, p, inKeys(keys),
          Seq("cents" -> (col("cents") + bump)), Some("o_orderkey")))
        bumpAll(); expect("update rows", updated, n)
      case "update_dv" =>
        val n = present
        val (_, updated) = lake(GraftLake.updateDv(spark, p, inKeys(keys),
          Seq("cents" -> (col("cents") + bump)), Some("o_orderkey")))
        bumpAll(); expect("updateDv rows", updated, n)
      case "sql_merge_cdf" =>
        val n = present
        baseRows(keys, bump).createOrReplaceTempView("bench_delta")
        lake(spark.sql(s"""MERGE INTO $CdfName t USING bench_delta s ON t.o_orderkey = s.o_orderkey
                          |WHEN MATCHED THEN UPDATE SET t.cents = s.cents
                          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
        upsert()
        changeRows(table)(version(table)) = 2 * n + (keys.length - n); None
      case "sql_delete_cdf" =>
        val n = present
        rows(keys).createOrReplaceTempView("bench_keys")
        lake(spark.sql(s"DELETE FROM $CdfName WHERE o_orderkey IN (SELECT o_orderkey FROM bench_keys)")
          .collect())
        remove()
        if (n > 0) changeRows(table)(version(table)) = n
        None
      case "compact" =>
        lake(GraftLake.compact(spark, p, Seq("o_orderkey"), 4, Some("o_orderkey"))); None
      case "vacuum" =>
        lake(GraftLake.vacuum(p))
        history(table).clear() // older versions may no longer be readable
        None
      case "snapshot" =>
        val s = lake(GraftLake.snapshot(p))
        expect("snapshot version", s.version, version(table))
          .orElse(if (s.live.isEmpty) Some("snapshot: no live sets") else None)
      case "read" | "read_at" =>
        val vs = history(table).keys.toSeq.sorted
        val v = if (call == "read") vs.last
          else vs(math.min(vs.size - 1, (op.get("frac").asDouble * vs.size).toInt))
        val df = Tracer.span("entry", "entry.build")(
          lake(if (call == "read") GraftLake.read(spark, p) else GraftLake.readAt(spark, p, v)))
        val r = Tracer.span("entry", "entry.action")(
          df.agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L)),
            sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))).head())
        val (n, s) = history(table)(v)
        expect(s"$call v$v rows", r.getLong(0), n).orElse(expect(s"$call v$v cents", r.getLong(1), s))
      case "changes" | "changes_typed" =>
        val rows = changeRows(table)
        val vs = rows.keys.toSeq.sorted
        val from = vs(math.min(vs.size - 1, (op.get("frac").asDouble * vs.size).toInt))
        val df = Tracer.span("entry", "entry.build")(lake(
          if (call == "changes") GraftLake.changesSince(spark, p, from)
          else GraftLake.changesTyped(spark, p, from)))
        val n = Tracer.span("entry", "entry.action")(
          df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")))
            .head().getLong(0))
        expect(s"$call since v$from", n, rows.collect { case (v, c) if v > from => c }.sum)
    }
    if (classOf(call) != "read") {
      record(table)
      val now = files(Paths.get(dir))
      val fresh = now.filter { case (f, _) => !seen(f) }
      seen ++= fresh.keys
      if (classOf(call) == "write") {
        stats("written_bytes") += fresh.values.sum
        stats("files_written") += fresh.size
        stats("user_bytes") += keys.length * bytesPerRow
      }
    }
    err
  }

  private def inKeys(keys: Array[Long]): Column = col("o_orderkey").isin(keys.toSeq: _*)

  /** The reference state of `t` after this pass's operations. */
  private def reference(t: String): DataFrame = {
    var ref = base.drop("yr")
    for (op <- passOps if op.get("table").asText == t) {
      val keys = Json.longs(op.get("keys"))
      val bump = Option(op.get("bump")).map(_.asLong).getOrElse(0L)
      val k = broadcast(rows(keys))
      ref = (op.get("call").asText match {
        case "append" | "append_part" => ref.unionByName(freshRows(keys))
        case "merge" | "merge_dv" | "sql_merge_cdf" =>
          ref.join(k, Seq("o_orderkey"), "left_anti").unionByName(baseRows(keys, bump))
        case "delete" | "delete_dv" | "delete_keys" | "sql_delete_cdf" =>
          ref.join(k, Seq("o_orderkey"), "left_anti")
        case "update" | "update_dv" =>
          ref.join(k.withColumn("_hit", lit(true)), Seq("o_orderkey"), "left")
            .withColumn("cents", when(col("_hit"), col("cents") + bump).otherwise(col("cents")))
            .drop("_hit")
        case _ => ref
      }).localCheckpoint()
    }
    ref
  }

  override def endPass(check: Boolean): Option[String] = {
    LakeSql.unregister(CdfName)
    if (!check) return None
    val errs = Tables.flatMap { t =>
      val got = Check.digest(GraftLake.read(spark, path(t)).select("o_orderkey", "o_orderstatus", "cents"))
      val want = Check.digest(reference(t))
      if (got == want) None else Some(s"table $t: got ${got.rows} rows / ${got.value}, want ${want.rows} / ${want.value}")
    }
    val disk = files(Paths.get(dir)).values.sum.toDouble
    stats("disk_bytes") += disk
    stats("live_bytes") += model.values.map(_.size).sum * bytesPerRow
    stats("live_files") += GraftLake.snapshot(path("cow")).live.size
    stats("commits") += Tables.map(t => version(t) + 1).sum
    stats("passes") += 1
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  override def summary: Map[String, Any] = Map("lake" -> stats.toMap)
}

object LakeDml {
  val Tables: Seq[String] = Seq("cow", "dv", "cdf", "part")
  val CdfName = "bench_cdf"

  def classOf(call: String): String = call match {
    case "read" | "read_at" | "changes" | "changes_typed" | "snapshot" => "read"
    case "compact" | "vacuum" => "maintenance"
    case _ => "write"
  }
}
