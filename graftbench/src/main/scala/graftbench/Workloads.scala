package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.store.{DeleteMode, GraftCatalog, KeyedTable, Manifest, WriteMode}

/** A closed-loop, single-client load: a seeded sequence of blocks (a
  * store cycle, one pass over the query set), each op of which runs
  * through `trace.op`. */
abstract class Workload(val spark: SparkSession, val trace: Trace, seed: Long) {
  protected val rnd = new scala.util.Random(seed)

  def setup(): Unit
  /** The op mix, untimed, until the JIT and Spark's caches are warm. */
  def warmup(): Unit
  /** Runs the next block of the seeded sequence, whole. */
  def block(): Unit
  /** Checks after the timed phase: false on any mismatch. */
  def verify(): Boolean
  /** Figures for the record, read after the timed phase. */
  def facts(): Seq[(String, Double)] = Nil
}

/** Write-heavy: a seeded cycle of upserts, appends, deletes, optimistic
  * upserts and compaction against a 150k-row keyed `orders` table. Each
  * write is followed by a point read of one key it wrote, which checks
  * that the write is visible, and by one read of a rotating kind (SQL
  * point read, narrow range, wide range, time travel to the version
  * before the write) around the same key. Every read is checked against
  * the in-memory model. */
final class StoreIngest(spark: SparkSession, trace: Trace, seed: Long,
                        dataDir: String, workDir: String)
    extends Workload(spark, trace, seed) {
  val wh: String = Paths.get(workDir, "warehouse").toAbsolutePath.toString
  private val table = "orders"
  private val pk = Seq("o_orderkey")
  private val model = new Model
  private var nextKey = 0L
  private var cycles = 0
  private var readTurn = 0
  private def tdir = KeyedTable.tableDir(wh, table)

  /** Files and bytes each write verb added, from manifest diffs (traced runs). */
  val writeFiles = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var lastFiles = Map.empty[String, Long]

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val src = spark.read.parquet(s"$dataDir/orders.parquet")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    src.collect().iterator.map(V.of).foreach { case (k, v) => model.put(k, v) }
    KeyedTable.toSql(src, wh, table, pk = pk)
    nextKey = model.cur.lastKey + 1
  }

  /** One untimed cycle with every verb and its reads. */
  def warmup(): Unit = {
    cycle(delete = true, concurrent = true, compact = true)
    writeFiles.clear()
    if (trace.enabled) lastFiles = liveFiles()
  }

  /** Timed cycle n (from 1) deletes when n % 3 == 1, compacts when
    * n % 10 == 3 and runs the optimistic upsert when n % 5 == 3: cycles
    * 1–3 hold every verb, and the short cycle 2 lets them fit in 15 s. */
  def block(): Unit = {
    cycles += 1
    cycle(delete = cycles % 3 == 1, concurrent = cycles % 5 == 3, compact = cycles % 10 == 3)
  }

  private def cycle(delete: Boolean, concurrent: Boolean, compact: Boolean): Unit = {
    val up = delta(1800, 200)
    step("upsert", up.size, up.head._1) {
      KeyedTable.toSql(frame(up), wh, table, pk = pk, how = WriteMode.Upsert)
      up.foreach { case (k, v) => model.put(k, v) }; true
    }
    val app = delta(0, 1000)
    step("append", app.size, app.head._1) {
      KeyedTable.toSql(frame(app), wh, table, pk = pk, how = WriteMode.Append)
      app.foreach { case (k, v) => model.put(k, v) }; true
    }
    // A threshold of one file per bucket: the append just made every
    // bucket hold two, so the call must rewrite some instead of only checking.
    if (compact)
      step("compact", 0, liveKey()) {
        KeyedTable.compactIfNeeded(spark, wh, table, maxFilesPerBucket = 1).nonEmpty
      }
    if (delete) {
      val lo = (rnd.nextDouble() * (nextKey - 100)).toLong
      val gone = model.range(lo, lo + 99).map(_._1).toSeq
      step("delete", 0, lo) {
        val n = KeyedTable.delete(spark, wh, table, col("o_orderkey").between(lo, lo + 99),
          mode = DeleteMode.Auto)
        gone.foreach(model.remove); n == gone.size
      }
    }
    if (concurrent) {
      val occ = delta(1800, 200)
      step("upsert_concurrent", occ.size, occ.head._1) {
        KeyedTable.upsertConcurrent(frame(occ), wh, table)
        occ.foreach { case (k, v) => model.put(k, v) }; true
      }
    }
  }

  /** A write op, then the reads that check it around key `k`. */
  private def step(verb: String, rows: Long, k: Long)(body: => Boolean): Unit = {
    val before = Manifest.current(spark, tdir).get.version
    val prev = model.get(k)
    trace.op(verb)((trace.span(s"store.write.$verb")(body), rows))
    if (trace.enabled) {
      val now = liveFiles()
      val added = now.filter { case (f, _) => !lastFiles.contains(f) }
      val (n, b) = writeFiles.getOrElse(verb, (0L, 0L))
      writeFiles(verb) = (n + added.size, b + added.values.sum)
      lastFiles = now
    }
    read("point", model.get(k).map(k -> _).toSeq)(readSql(k, k))
    val kind = StoreIngest.RotatingReads(readTurn % StoreIngest.RotatingReads.size)
    readTurn += 1
    kind match {
      case "point_sql" => read(kind, model.get(k).map(k -> _).toSeq)(
        spark.sql(s"SELECT ${V.Cols.mkString(", ")} FROM graft.$table WHERE o_orderkey = $k"))
      case "narrow_range" =>
        val lo = k - rnd.nextInt(250)
        val hi = lo + rnd.nextInt(500)
        read(kind, model.range(lo, hi).toSeq)(readSql(lo, hi))
      case "wide_range" =>
        read(kind, model.range(k - 10000, k + 9999).toSeq)(readSql(k - 10000, k + 9999))
      case "time_travel" => read(kind, prev.map(k -> _).toSeq)(readSql(k, k, Some(before)))
    }
  }

  private def read(kind: String, expect: Seq[(Long, V)])(plan: => DataFrame): Unit =
    trace.op(kind) {
      val df = trace.span(s"store.read.$kind.plan")(plan)
      val got = trace.span(s"store.read.$kind.exec")(df.collect())
      (got.map(V.of).sortBy(_._1).toSeq == expect, got.length.toLong)
    }

  private def readSql(lo: Long, hi: Long, asOf: Option[Long] = None): DataFrame =
    KeyedTable.readSql(spark, wh, table, Seq(lo), Seq(hi), asOfVersion = asOf)
      .select(V.Cols.map(col): _*)

  private def frame(rows: Seq[(Long, V)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, v) => V.row(k, v) }.asJava, V.Schema)

  /** A random key present in the table. */
  private def liveKey(): Long = {
    var k = -1L
    while (!model.contains(k)) k = (rnd.nextDouble() * nextKey).toLong
    k
  }

  /** `nOld` distinct live keys with new values, then `nNew` fresh keys. */
  private def delta(nOld: Int, nNew: Int): Seq[(Long, V)] = {
    val old = mutable.LinkedHashSet.empty[Long]
    while (old.size < nOld) old += liveKey()
    val fresh = Seq.fill(nNew) { nextKey += 1; nextKey - 1 }
    (old.toSeq ++ fresh).map(_ -> V.random(rnd))
  }

  private def liveFiles(): Map[String, Long] =
    Manifest.current(spark, tdir).toSeq.flatMap(_.files.toSeq)
      .flatMap { case (b, fs) => fs.map(f => s"$b/${f.name}" -> f.len) }.toMap

  /** A full read must equal the model: row count and an order-independent hash. */
  def verify(): Boolean = {
    val got = KeyedTable.readSql(spark, wh, table).select(V.Cols.map(col): _*).collect()
    val ok = V.digest(got.iterator.map(V.of)) == model.digest
    if (!ok) System.err.println(s"[graftbench] full read: ${got.length} rows, model ${model.size}")
    ok
  }

  override def facts(): Seq[(String, Double)] = {
    val m = Manifest.current(spark, tdir).get
    val perBucket = m.files.values.map(_.size)
    Seq(
      "live_rows" -> model.size.toDouble,
      "live_bytes" -> m.totalBytes.toDouble,
      "warehouse_bytes" -> StoreIngest.dirBytes(Paths.get(wh)).toDouble,
      "store.meta.versions" -> Manifest.versions(spark, tdir).size.toDouble,
      "store.meta.live_files" -> perBucket.sum.toDouble,
      "store.meta.max_files_per_bucket" -> (if (perBucket.isEmpty) 0 else perBucket.max).toDouble,
      "store.meta.manifest_bytes" -> m.toJson.length.toDouble)
  }
}

object StoreIngest {
  val RotatingReads: Seq[String] = Seq("point_sql", "narrow_range", "wide_range", "time_travel")

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

/** CPU-bound: read-only gate queries in seeded order, results to the noop
  * sink as `graft.Bench` does. */
final class Analytics(spark: SparkSession, trace: Trace, seed: Long,
                      dataDir: String, workDir: String)
    extends Workload(spark, trace, seed) {
  private val names = Analytics.Queries
  private val queries = SparkEntry.queries

  private val results = Paths.get(workDir, "results").toAbsolutePath

  def setup(): Unit = names.foreach(n => require(queries.contains(n), s"unknown query $n"))

  /** Three passes: after two, the first timed pass still runs 10–20%
    * slower than the next. The first pass writes each query's result
    * once, for the oracle comparison after the run: the queries are
    * read-only, so the results are the same as the timed passes'. */
  def warmup(): Unit = {
    names.foreach(n => run(n, _.coalesce(1).write.mode("overwrite")
      .parquet(results.resolve(n).toString)))
    (1 to 2).foreach(_ => names.foreach(run(_, noop)))
  }

  def block(): Unit = rnd.shuffle(names).foreach(run(_, noop))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def run(name: String, sink: DataFrame => Unit): Unit = trace.op(name) {
    val df = trace.span(s"query.$name.build")(queries(name)(spark, dataDir))
    trace.span(s"query.$name.exec")(sink(df))
    (true, 0L)
  }

  /** Writes the oracle SQL next to the results for the DuckDB comparison
    * the caller runs; false when a result is missing. */
  def verify(): Boolean = {
    val oracle = SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"),
      names.map(n => Json.str(n) + ": " + Json.str(oracle(n))).mkString("{", ",\n", "}"))
    names.forall(n => Files.isDirectory(results.resolve(n)))
  }
}

object Analytics {
  /** Seven of the gate's read-only queries: TPC-H aggregation and joins,
    * sessionizing windows, graft.operators (as-of join, quantile sketch)
    * and graft.functions (text normalization, IVF vector search). */
  val Queries: Seq[String] = Seq("q1_pricing_summary", "q5_local_supplier",
    "events_sessionized", "asof_join", "quantile_sketch", "text_normalize", "ann_ivf")
}
