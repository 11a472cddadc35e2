package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.SparkContext
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Run two INDEPENDENT pieces of driver code — each typically one or a
  * few Spark actions — concurrently (optimization guide §2.6: a verb's
  * sequential actions leave the cluster idle through each job's tail
  * and each scheduling wave; overlapping them hides both).
  *
  * `a` runs on a fresh thread (Spark's inheritable thread-locals — job
  * description, group, tags — propagate), `b` on the caller's. Each
  * branch tags its jobs with its own job tag (tags are additive: the
  * branch keeps its `spark.job.description` label and the caller's job
  * group is never touched). On the FIRST failure of either branch the
  * failing side cancels the sibling's jobs — repeatedly, until the
  * sibling returns, so a job the sibling starts after one cancel is
  * caught by the next — instead of waiting for, say, a whole staging
  * write behind a validation error that has already decided the
  * outcome. The first failure is what the caller sees; the sibling's
  * (typically its cancellation) is attached as suppressed. Both
  * branches — and, after a cancellation, the sibling's last running
  * tasks — are always joined before this returns or throws. */
private[graft] object Parallel {

  def inParallel[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val sc = spark.sparkContext
    val id = UUID.randomUUID().toString
    val (tagA, tagB) = (s"graft-parallel-a-$id", s"graft-parallel-b-$id")
    val first = new AtomicReference[Throwable]()
    @volatile var doneA = false
    @volatile var doneB = false
    def branch[T](tag: String, markDone: () => Unit, siblingTag: String,
                  siblingDone: () => Boolean)(body: => T): Either[Throwable, T] = {
      sc.addJobTag(tag)
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      finally { sc.removeJobTag(tag); markDone() }
      r.left.foreach { e =>
        if (first.compareAndSet(null, e)) {
          while (!siblingDone()) {
            sc.cancelJobsWithTag(siblingTag)
            Thread.sleep(20L)
          }
          awaitTasksGone(sc, siblingTag)
        }
      }
      r
    }
    @volatile var ra: Either[Throwable, A] = null
    // constructed BEFORE the caller adds its own tag: the child's copy
    // of the inheritable properties must not carry branch b's tag
    val t = new Thread(() => {
      ra = branch(tagA, () => doneA = true, tagB, () => doneB)(a)
    }, "graft-parallel-action")
    t.setDaemon(true)
    t.start()
    val rb = branch(tagB, () => doneB = true, tagA, () => doneA)(b)
    t.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case _ =>
        val e = first.get
        Seq(ra, rb).foreach {
          case Left(o) if o ne e => e.addSuppressed(o)
          case _ =>
        }
        throw e
    }
  }

  /** A cancelled job fails at once, but its running tasks wind down
    * asynchronously. Wait (bounded) until none of `tag`'s tasks is left,
    * so a caller cleaning up the sibling's output on failure (a staging
    * dir) never races a late task re-creating it. */
  private def awaitTasksGone(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def active: Int = {
      GraftBridge.drainListeners(sc)
      st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo(_))
        .flatMap(_.stageIds).flatMap(st.getStageInfo(_)).map(_.numActiveTasks).sum
    }
    val deadline = System.currentTimeMillis() + 30000L
    while (active > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20L)
  }
}
