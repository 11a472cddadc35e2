package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** [[CommitFaultSpec]]'s two commit faults — a staged file that cannot
  * move into its bucket dir, and a manifest flip whose rename fails —
  * injected into the OPTIMISTIC verbs, whose staging runs outside the
  * write lock and whose flip re-validates under it. Each fault must
  * leave the snapshot version and the rows unchanged and no
  * `.staging-*` directory behind, and the same call must then succeed. */
class OptimisticCommitFaultSpec extends SparkSpec {

  private lazy val wh: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val local = Files.createTempDirectory("graft-optfault").toString
    s"faulty://$local"
  }

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private val base = (1L to 6L).map(i => (i, s"n$i", i * 1.0))

  private def rowsOf(t: String): Seq[(Long, String, Double)] =
    KeyedTable.readSql(spark, wh, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  private def version(t: String): Long =
    Manifest.current(spark, s"$wh/$t").get.version

  private def noStagingLeft(t: String): Unit = {
    val dir = new Path(s"$wh/$t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(".staging-"))
    assert(left.isEmpty, s"staging left behind: ${left.mkString(", ")}")
  }

  /** Committed changelog batches (a table with none has no log dir). */
  private def batches(t: String): Int = {
    val root = new Path(s"$wh/$t/${KeyedTable.ChangelogDir}")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(_.getPath.getName.startsWith("batch="))
  }

  private val faults = Seq(
    "staged-file move fails" -> (".staging-", "/data/pb_bucket="),
    "manifest flip fails" -> ("/_manifests/.tmp-", "/_manifests/v"))

  /** Run `verb` under each fault on a fresh table (with CDC on, so the
    * changelog staging is exercised too), then clean, and compare the
    * result with `expected`. */
  private def faultTest(name: String, expected: Seq[(Long, String, Double)])
                       (verb: String => Any): Unit =
    faults.foreach { case (fault, (src, dst)) =>
      test(s"$name: $fault -> version and rows unchanged, no staging " +
           "left, the same call then succeeds") {
        val t = s"t_optf_${name.filter(_.isLetterOrDigit)}_${fault.take(5)}"
          .toLowerCase.replace(' ', '_')
        KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 4)
        KeyedTable.setChangelog(spark, wh, t, enabled = true)
        val v0 = version(t)
        val batches0 = batches(t)
        val e = intercept[StoreException] {
          FaultyFileSystem.armed(src, dst)(verb(t))
        }
        assert(e.getMessage.contains("current snapshot unchanged") ||
          e.getMessage.contains("could not commit manifest"), e.getMessage)
        assert(version(t) == v0)
        assert(rowsOf(t) == base)
        assert(batches(t) == batches0,
          "an aborted commit must not publish its changelog batch")
        noStagingLeft(t)
        verb(t)
        assert(version(t) == v0 + 1)
        assert(rowsOf(t) == expected)
        assert(batches(t) == batches0 + 1)
        noStagingLeft(t)
      }
    }

  faultTest("appendConcurrent", base :+ ((7L, "g", 7.0))) { t =>
    KeyedTable.appendConcurrent(df((7L, "g", 7.0)), wh, t)
  }

  faultTest("upsertConcurrent",
      base.updated(1, (2L, "B", 20.0)) :+ ((7L, "g", 7.0))) { t =>
    KeyedTable.upsertConcurrent(df((2L, "B", 20.0), (7L, "g", 7.0)), wh, t)
  }

  faultTest("deleteConcurrent CoW", base.drop(2)) { t =>
    KeyedTable.deleteConcurrent(spark, wh, t, col("id") <= 2L,
      mode = DeleteMode.CopyOnWrite)
  }

  faultTest("deleteConcurrent MoR", base.drop(2)) { t =>
    KeyedTable.deleteConcurrent(spark, wh, t, col("id") <= 2L,
      mode = DeleteMode.MergeOnRead)
  }

  faultTest("updateConcurrent", base.map { case (i, s, v) =>
      if (i <= 2L) (i, s, v + 100.0) else (i, s, v) }) { t =>
    KeyedTable.updateConcurrent(spark, wh, t, col("id") <= 2L,
      Map("v" -> (col("v") + lit(100.0))))
  }

  faultTest("mergeConcurrent",
      base.filterNot(_._1 == 1L).updated(0, (2L, "B", 20.0)) :+
        ((7L, "g", 7.0))) { t =>
    val feed = df((1L, "x", 0.0), (2L, "B", 20.0), (7L, "g", 7.0))
      .withColumn("del", col("id") === 1L)
    KeyedTable.mergeConcurrent(feed, wh, t, deleteWhen = col("del"))
  }
}
