package graft.store

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.{GraftTestBridge, TaskContext}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.{Parallel, SparkSpec}

/** Local filesystem whose file CREATE stalls (up to 30 s) for paths
  * containing an armed substring, polling its task's kill flag so a
  * cancelled job's task ends promptly. Registered under `slowstage://`
  * to hold a staging write open while its sibling fails. */
class SlowStagingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "slowstage"
  override def getUri: URI = URI.create("slowstage:///")
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    SlowStagingFileSystem.stall(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override protected def createOutputStream(f: Path,
                                            append: Boolean): java.io.OutputStream = {
    SlowStagingFileSystem.stall(f)
    super.createOutputStream(f, append)
  }
}

object SlowStagingFileSystem {
  @volatile var stallOn: Option[String] = None

  def stall(f: Path): Unit =
    stallOn.filter(f.toString.contains).foreach { _ =>
      val ctx = TaskContext.get()
      val deadline = System.currentTimeMillis() + 30000L
      while (System.currentTimeMillis() < deadline) {
        if (ctx != null && ctx.isInterrupted())
          throw new java.io.InterruptedIOException("task killed")
        Thread.sleep(20L)
      }
    }
}

/** `Parallel.inParallel`: the first failure of either branch wins, the
  * sibling's Spark jobs are cancelled instead of run to completion, and
  * both branches are always joined. */
class ParallelCancelSpec extends SparkSpec {

  test("both branches are joined; the first failure wins and the other " +
       "is attached as suppressed") {
    @volatile var aFinished = false
    val e = intercept[IllegalStateException] {
      Parallel.inParallel(spark)(
        { Thread.sleep(300L); aFinished = true; throw new RuntimeException("a") },
        throw new IllegalStateException("b"))
    }
    assert(e.getMessage == "b")
    assert(aFinished, "the slower branch must be joined before the throw")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("a"))
    assert(Parallel.inParallel(spark)(1, "x") == ((1, "x")))
  }

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  test("an overlapping append fails with the overlap error while its " +
       "staging write is cancelled, not run to completion") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.slowstage.impl", classOf[SlowStagingFileSystem].getName)
    val local = Files.createTempDirectory("graft-parcancel").toString
    val wh = s"slowstage://$local"
    val t = "t_par_cancel"
    KeyedTable.toSql(df((1L, "a"), (2L, "b"), (3L, "c")), wh, t,
      pk = Seq("id"), buckets = 2)
    val desc = new ConcurrentHashMap[Int, String]()
    val ok = new ConcurrentHashMap[Int, Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        d.foreach(desc.put(e.jobId, _)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ok.put(e.jobId, e.jobResult == JobSucceeded); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    val e =
      try {
        SlowStagingFileSystem.stallOn = Some(".staging-append-")
        intercept[StoreException] {
          KeyedTable.toSql(df((2L, "dup"), (10L, "new")), wh, t,
            how = WriteMode.Append)
        }
      } finally {
        SlowStagingFileSystem.stallOn = None
        GraftTestBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    val elapsed = System.currentTimeMillis() - t0
    assert(e.getMessage.contains("overwrite existing PKs"), e.getMessage)
    assert(elapsed < 25000L, s"append took $elapsed ms: the staging write ran on")
    val staged = desc.asScala.collect {
      case (id, d) if d.contains("staging write") => id
    }
    assert(staged.nonEmpty, s"no staging-write job seen: $desc")
    assert(!ok.asScala.getOrElse(staged.max, true),
      "the staging write job must end cancelled or failed, not succeeded")
    // nothing committed, nothing left staged
    assert(KeyedTable.readSql(spark, wh, t).count() == 3L)
    val dir = new Path(s"$wh/$t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(dir).exists(_.getPath.getName.startsWith(".staging-")))
  }
}
