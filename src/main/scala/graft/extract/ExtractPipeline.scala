package graft.extract

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** Concurrent three-stage ELT pipeline: introspect → extract → load.
  *
  * The reference runs queued worker pools per stage with retry
  * (pipeline.py Step/QueueWorker/QueueWorkerPool, main.py's tenacity
  * Retrying); here each stage is a bounded thread pool and a table
  * flows through as a Future chain — same overlap behavior (a table
  * loads while the next extracts), idiomatic Scala. Stage workloads
  * are driver-side orchestration; the heavy lifting inside
  * `extract` and `load` is distributed Spark jobs. In ExtractJob the
  * load stage is the warehouse load itself, so there is no load work
  * left once the pipeline returns.
  */
object ExtractPipeline {

  final case class Stages[A, B, C](
      introspect: String => A,
      extract: A => B,
      load: B => C)

  final case class Result[C](name: String, result: Either[Throwable, C])

  /** The cause chain of a throwable, outermost first (cycle-safe). */
  def causeChain(t: Throwable): List[Throwable] = {
    val out = scala.collection.mutable.ListBuffer.empty[Throwable]
    var cur = t
    while (cur != null && !out.contains(cur) && out.size < 16) {
      out += cur
      cur = cur.getCause
    }
    out.toList
  }

  /** First (SQLState, vendor code) in the cause chain — JDBC drivers
    * bury these under Spark's wrapper exceptions, and they are what
    * distinguishes "table vanished" from "connection reset" at 2 a.m.
    */
  def sqlState(t: Throwable): Option[(String, Int)] =
    causeChain(t).collectFirst {
      case e: java.sql.SQLException if e.getSQLState != null =>
        (e.getSQLState, e.getErrorCode)
    }

  /** A table's stage failure with the context an operator needs
    * (reference TODO.md "Cleanup exception handling — more detail on
    * Spark exceptions from JDBC"): table, stage, attempts made, the
    * SQLState/vendor code if any, and the whole cause chain in the
    * message. The original exception stays attached as the cause.
    */
  final case class StageFailed(table: String, stage: String, attempts: Int,
                               failure: Throwable)
    extends RuntimeException({
      val chain = causeChain(failure)
        .map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
        .mkString(" <- ")
      val sql = sqlState(failure)
        .map { case (st, code) => s" [SQLState $st, vendor code $code]" }
        .getOrElse("")
      s"table $table failed in stage $stage after $attempts attempt(s)$sql: $chain"
    }, failure)

  /** Retry gate (reference TODO.md "exclude-from-shutdown"): JVM/
    * Spark shutdown is not a transient source error — retrying it
    * just delays the inevitable and muddies the failure report.
    */
  def defaultRetryable(t: Throwable): Boolean =
    !causeChain(t).exists { e =>
      e.isInstanceOf[InterruptedException] ||
        Option(e.getMessage).exists(m =>
          m.contains("SparkContext was shut down") ||
            m.contains("shutdown in progress") ||
            m.contains("JVM is shutting down"))
    }

  final case class RetryPolicy(attempts: Int = 3, backoffMs: Long = 50,
                               retryable: Throwable => Boolean = defaultRetryable) {
    /** Runs f with retry; throws RetriesExhausted carrying the attempt
      * count once attempts run out (or immediately on a non-retryable
      * failure, with the attempts made so far).
      */
    def apply[T](f: => T): T = {
      var last: Throwable = null
      var i = 0
      while (i < attempts) {
        try return f
        catch {
          case NonFatal(e) =>
            last = e
            i += 1
            if (!retryable(e) || i >= attempts) throw RetriesExhausted(i, e)
            Thread.sleep(backoffMs * (1L << (i - 1)))
        }
      }
      throw RetriesExhausted(i, last)
    }
  }

  final case class RetriesExhausted(attempts: Int, failure: Throwable)
    extends RuntimeException(failure)

  final case class DeadlineExceeded(table: String, deadlineMs: Long)
    extends RuntimeException(
      s"table $table unfinished after ${deadlineMs}ms deadline")

  /** Deterministic table-order shuffle (reference util.py:13-22
    * filter_shuffle): config files list tables grouped by schema, so
    * FIFO worker pools would hammer one tablespace/filegroup at a
    * time on the source DB; a shuffled order spreads concurrent
    * extracts across storage. Seeded so a rerun processes in the
    * same order (reproducible logs and deadline behavior).
    */
  def shuffleTables(tables: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(tables)

  /** Runs every table through all three stages with per-stage
    * parallelism caps (reference introspect_workers / extract_workers
    * / load_workers). Returns per-table results, failures captured
    * not thrown (reference error_queue).
    *
    * `deadlineMs` caps the whole run (the reference's TODO "deadline
    * flag that causes the extract to abort"): tables still in flight
    * when it expires come back as DeadlineExceeded failures instead
    * of blocking the batch window; finished tables keep their real
    * results.
    */
  def run[A, B, C](tables: Seq[String], stages: Stages[A, B, C],
                   introspectWorkers: Int = 4, extractWorkers: Int = 4,
                   loadWorkers: Int = 4,
                   retry: RetryPolicy = RetryPolicy(),
                   deadlineMs: Option[Long] = None,
                   shuffleSeed: Option[Long] = None): Seq[Result[C]] = {
    val ordered = shuffleSeed.fold(tables)(shuffleTables(tables, _))
    val pools = Seq(introspectWorkers, extractWorkers, loadWorkers)
      .map(n => Executors.newFixedThreadPool(n))
    val Seq(ec1, ec2, ec3) = pools.map(ExecutionContext.fromExecutorService)
    try {
      // failures surface as StageFailed: table + stage + attempts +
      // SQLState + cause chain (the reference TODO's "more detail on
      // Spark exceptions from JDBC")
      def staged[T](t: String, stage: String)(f: => T): T =
        try retry(f)
        catch {
          case RetriesExhausted(n, e) => throw StageFailed(t, stage, n, e)
          case NonFatal(e) => throw StageFailed(t, stage, 1, e)
        }
      val futures: Seq[Future[Result[C]]] = ordered.map { t =>
        Future(staged(t, "introspect")(stages.introspect(t)))(ec1)
          .flatMap(a => Future(staged(t, "extract")(stages.extract(a)))(ec2))(ec2)
          .flatMap(b => Future(staged(t, "load")(stages.load(b)))(ec3))(ec3)
          .map(c => Result(t, Right(c): Either[Throwable, C]))(ec3)
          .recover { case NonFatal(e) => Result(t, Left(e): Either[Throwable, C]) }(ec3)
      }
      import scala.concurrent.ExecutionContext.Implicits.global
      deadlineMs match {
        case None => Await.result(Future.sequence(futures), Duration.Inf)
        case Some(ms) =>
          try Await.ready(Future.sequence(futures), Duration(ms, "ms"))
          catch { case _: java.util.concurrent.TimeoutException => }
          ordered.zip(futures).map { case (t, f) =>
            f.value match {
              case Some(scala.util.Success(r)) => r
              case Some(scala.util.Failure(e)) =>
                Result(t, Left(e): Either[Throwable, C])
              case None =>
                Result(t, Left(DeadlineExceeded(t, ms)): Either[Throwable, C])
            }
          }
      }
    } finally pools.foreach(_.shutdownNow())
  }
}
