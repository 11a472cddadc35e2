package graft.store

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkSpec, TempDirs}

/** Spark jobs launched per store verb, in both commit modes, on a small
  * fixed table (200 rows, 4 buckets). Each bound is the count measured
  * before the locked and optimistic verbs shared one write transaction;
  * a verb that starts launching more jobs fails here instead of showing
  * up only in a profile. Counts include the shuffle-stage jobs adaptive
  * execution submits, so they are exact for this data and plan shape. */
class JobsPerVerbSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-jobs")

  private val jobs = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  private def jobsOf(body: => Any): Int = {
    GraftTestBridge.drainListeners(spark.sparkContext)
    jobs.set(0)
    body
    GraftTestBridge.drainListeners(spark.sparkContext)
    jobs.get
  }

  private def rows(lo: Long, hi: Long, tag: String): DataFrame = {
    import spark.implicits._
    (lo to hi).map(i => (i, s"$tag$i", i * 1.0)).toDF("id", "name", "v")
  }

  private var n = 0
  private def fresh(changelog: Boolean = false): String = {
    n += 1
    val t = s"t_jobs_$n"
    KeyedTable.toSql(rows(1, 200, "n"), wh, t, pk = Seq("id"), buckets = 4)
    if (changelog) KeyedTable.setChangelog(spark, wh, t, enabled = true)
    t
  }

  /** 10 updates of stored keys plus 10 new keys. */
  private def delta: DataFrame = rows(191, 210, "u")

  /** A change feed: 5 updates, 5 tombstones, 5 inserts. */
  private def feed: DataFrame =
    rows(186, 200, "f").union(rows(201, 205, "f"))
      .withColumn("del", col("id").between(191L, 195L))

  private val measured = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  private def pin(verb: String, bound: Int)(body: => Any): Unit =
    test(s"$verb launches at most $bound Spark jobs") {
      val got = jobsOf(body)
      measured(verb) = got
      info(s"$verb: $got jobs")
      assert(got <= bound, s"$verb launched $got jobs, bound $bound")
    }

  private def delWhere = col("id") <= 5L
  private def updSet = Map("v" -> (col("v") + lit(1.0)))

  pin("create", 2) {
    KeyedTable.toSql(rows(1, 200, "c"), wh, "t_jobs_create", pk = Seq("id"),
      buckets = 4)
  }

  pin("append", 12) {
    KeyedTable.toSql(rows(201, 220, "a"), wh, fresh(), how = WriteMode.Append)
  }
  pin("append (changelog)", 13) {
    KeyedTable.toSql(rows(201, 220, "a"), wh, fresh(changelog = true),
      how = WriteMode.Append)
  }
  pin("appendConcurrent", 12) {
    KeyedTable.appendConcurrent(rows(201, 220, "a"), wh, fresh())
  }
  pin("appendConcurrent (changelog)", 13) {
    KeyedTable.appendConcurrent(rows(201, 220, "a"), wh, fresh(changelog = true))
  }

  pin("upsert", 10) {
    KeyedTable.toSql(delta, wh, fresh(), how = WriteMode.Upsert)
  }
  pin("upsert (changelog)", 12) {
    KeyedTable.toSql(delta, wh, fresh(changelog = true), how = WriteMode.Upsert)
  }
  pin("upsertConcurrent", 10) {
    KeyedTable.upsertConcurrent(delta, wh, fresh())
  }
  pin("upsertConcurrent (changelog)", 12) {
    KeyedTable.upsertConcurrent(delta, wh, fresh(changelog = true))
  }

  pin("merge (CoW)", 10) {
    KeyedTable.merge(feed, wh, fresh(), deleteWhen = col("del"),
      mode = DeleteMode.CopyOnWrite)
  }
  pin("merge (MoR)", 12) {
    KeyedTable.merge(feed, wh, fresh(), deleteWhen = col("del"),
      mode = DeleteMode.MergeOnRead)
  }
  pin("merge (Auto)", 15) {
    KeyedTable.merge(feed, wh, fresh(), deleteWhen = col("del"))
  }
  pin("mergeConcurrent", 13) {
    KeyedTable.mergeConcurrent(feed, wh, fresh(), deleteWhen = col("del"))
  }

  pin("delete (CoW)", 6) {
    KeyedTable.delete(spark, wh, fresh(), delWhere, mode = DeleteMode.CopyOnWrite)
  }
  pin("delete (MoR)", 6) {
    KeyedTable.delete(spark, wh, fresh(), delWhere, mode = DeleteMode.MergeOnRead)
  }
  pin("delete (CoW, changelog)", 7) {
    KeyedTable.delete(spark, wh, fresh(changelog = true), delWhere,
      mode = DeleteMode.CopyOnWrite)
  }
  pin("deleteConcurrent (CoW)", 6) {
    KeyedTable.deleteConcurrent(spark, wh, fresh(), delWhere,
      mode = DeleteMode.CopyOnWrite)
  }
  pin("deleteConcurrent (MoR)", 6) {
    KeyedTable.deleteConcurrent(spark, wh, fresh(), delWhere,
      mode = DeleteMode.MergeOnRead)
  }

  pin("update (CoW)", 6) {
    KeyedTable.update(spark, wh, fresh(), delWhere, updSet,
      mode = DeleteMode.CopyOnWrite)
  }
  pin("update (MoR)", 9) {
    KeyedTable.update(spark, wh, fresh(), delWhere, updSet,
      mode = DeleteMode.MergeOnRead)
  }
  pin("updateConcurrent (CoW)", 6) {
    KeyedTable.updateConcurrent(spark, wh, fresh(), delWhere, updSet,
      mode = DeleteMode.CopyOnWrite)
  }
  pin("updateConcurrent (MoR)", 9) {
    KeyedTable.updateConcurrent(spark, wh, fresh(), delWhere, updSet,
      mode = DeleteMode.MergeOnRead)
  }

  test("report") {
    info(measured.map { case (k, v) => s"$k=$v" }.mkString(", "))
  }
}
