package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import graft.sink.{JdbcSink, TableSink}

/** Failure injection for the JDBC staging sink's transient-retry path
  * (JdbcSink.retryTransient): the SQLState-class-40 classifier (lock
  * timeout / deadlock / transaction rollback — Derby 40XL1/40XL2), the
  * cause-chain walk with its cycle guard, the retry/fail-fast split,
  * and the exhausted-retry interaction with the pooled sync front door
  * (TableSink.forEachTable: it stops its siblings' tagged jobs and
  * drains before it rethrows). Reference anchor:
  * the per-dialect batch updater this path wraps (sql.py:264-272).
  *
  * The end-to-end case goes through Spark's real JDBC write via a
  * wrapper Driver ([[GraftFlakyDerbyDriver]]) that throws SQLState
  * 40XL1 on its first two connect calls and then delegates to embedded
  * Derby — injecting exactly the DDL-lock collision shape the retry
  * exists for, at the layer where it actually occurs.
  */
class JdbcRetrySpec extends SparkSpecBase {

  test("end-to-end: a staging write that hits two transient lock errors retries and lands") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_derby_flaky").toString
    val url = s"jdbc:graftflaky:$dir/db;create=true"

    GraftFlakyDerbyDriver.failsLeft.set(2)
    GraftFlakyDerbyDriver.connects.set(0)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    // attempts = 3 (the default): connect #1 and #2 throw 40XL1, the
    // third attempt's connects succeed and the write lands. Explicit
    // column types: Spark picks the JDBC dialect by URL prefix, and the
    // flaky marker prefix maps to the no-op dialect whose default
    // string type (TEXT) Derby rejects.
    JdbcSink.writeStaging(Map("flaky" -> df), url,
      driver = "graft.GraftFlakyDerbyDriver",
      columnTypes = Map("flaky" -> "name VARCHAR(64)"))

    assert(GraftFlakyDerbyDriver.failsLeft.get() == 0,
      "both injected failures must have been consumed")
    assert(GraftFlakyDerbyDriver.connects.get() >= 3,
      "the successful attempt opens at least one more connection")
    // Read back through plain Derby: staging table exists with the rows.
    val back = JdbcSink.read(spark,
      s"jdbc:derby:$dir/db", JdbcSink.staging("flaky"))
    assert(back.count() == 3L)
    assert(back.select("name").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b", "c"))
  }

  test("a non-40 SQLException fails fast: exactly one attempt, no retry") {
    val attempts = new AtomicInteger(0)
    val e = intercept[SQLException] {
      JdbcSink.retryTransient("t") {
        attempts.incrementAndGet()
        throw new SQLException("unique constraint violation", "23505")
      }
    }
    assert(e.getSQLState == "23505")
    assert(attempts.get() == 1,
      "an integrity violation is not transient and must not be retried")
  }

  test("exhausted transient retries surface the last failure after exactly `attempts` tries") {
    val attempts = new AtomicInteger(0)
    val e = intercept[SQLException] {
      JdbcSink.retryTransient("t") {
        attempts.incrementAndGet()
        throw new SQLException("lock timeout", "40XL1")
      }
    }
    assert(e.getSQLState == "40XL1")
    assert(attempts.get() == 3)
  }

  test("a 2-cycle cause chain neither overflows the guard nor misclassifies") {
    // Non-transient cycle: a -> b -> a. JDK initCause only forbids
    // DIRECT self-cause, so this chain is constructible; a naive
    // recursive walk would StackOverflowError inside the catch guard.
    val a = new RuntimeException("a")
    val b = new RuntimeException("b")
    a.initCause(b); b.initCause(a)
    val n = new AtomicInteger(0)
    intercept[RuntimeException] {
      JdbcSink.retryTransient("t") { n.incrementAndGet(); throw a }
    }
    assert(n.get() == 1, "a cycle with no 40-class cause is not transient")

    // Transient-within-cycle: c -> d -> SQLState 40001 -> back to c.
    // The classifier must FIND the transient member before the cycle
    // closes, so this body retries and the third attempt succeeds.
    val c = new RuntimeException("c")
    val d = new RuntimeException("d")
    val s = new SQLException("deadlock", "40001")
    c.initCause(d); d.initCause(s); s.initCause(c)
    val m = new AtomicInteger(0)
    val out = JdbcSink.retryTransient("t") {
      if (m.incrementAndGet() < 3) throw c else "landed"
    }
    assert(out == "landed")
    assert(m.get() == 3)
  }

  test("a wrapped (Spark-style) transient cause deep in the chain is still classified") {
    // The driver-side failure usually surfaces wrapped (SparkException
    // around an ExecutionException around the SQLException); the walk
    // must find the 40-class member at any depth.
    val n = new AtomicInteger(0)
    val out = JdbcSink.retryTransient("t") {
      if (n.incrementAndGet() < 2)
        throw new RuntimeException("job aborted",
          new java.util.concurrent.ExecutionException(
            new SQLException("lock timeout", "40XL2")))
      else 42
    }
    assert(out == 42)
    assert(n.get() == 2)
  }

  test("a post-retry failure under the sync pool drains every sibling before rethrow") {
    // Composition contract (writeStaging's actual shape): retryTransient
    // wraps each per-table body INSIDE forEachTable. When one table
    // exhausts its retries, the pool must (a) surface the exhausted
    // table's own 40-class failure, (b) only rethrow after every
    // sibling that STARTED has also FINISHED (cancel(false) + drain —
    // no zombie body still running when the caller catches), including
    // the long in-flight one. (A queued sibling MAY still start — the
    // freed worker races the cancel — but the pool stops its tagged
    // jobs until it has drained, covered by SinkPoolStopSpec; the
    // drain guarantee below is what makes that race harmless.)
    val badAttempts = new AtomicInteger(0)
    val started = new AtomicInteger(0)
    val finished = new AtomicInteger(0)
    val slowDone = new AtomicBoolean(false)
    val tables = Map("bad" -> 0, "slow" -> 1, "queued" -> 2)
    val thrown = intercept[Throwable] {
      TableSink.forEachTable(tables, poolSize = 2) {
        (name, _) =>
          name match {
            case "bad" => JdbcSink.retryTransient(name) {
              badAttempts.incrementAndGet()
              throw new SQLException("lock timeout", "40XL1")
            }
            case _ =>
              started.incrementAndGet()
              // Outlasts bad's 3 attempts (2 backoff sleeps ~600ms).
              Thread.sleep(2500)
              if (name == "slow") slowDone.set(true)
              finished.incrementAndGet()
          }
      }
    }
    // Snapshot the counters the moment the rethrow is observed: drain
    // means no sibling body is still mid-flight NOW.
    val (s0, f0) = (started.get(), finished.get())
    def chain(t: Throwable, seen: Set[Throwable] = Set.empty): Seq[Throwable] =
      if (t == null || seen(t)) Nil
      else t +: chain(t.getCause, seen + t)
    assert(chain(thrown).exists {
      case s: SQLException => s.getSQLState == "40XL1"
      case _ => false
    }, s"the exhausted table's own failure must surface: $thrown")
    assert(badAttempts.get() == 3, "retries must be exhausted before failing the sync")
    assert(slowDone.get(),
      "the rethrow must wait for the in-flight sibling to drain")
    assert(s0 == f0,
      s"every started sibling must have finished before the rethrow " +
        s"(started=$s0 finished=$f0)")
  }
}

/** JDBC Driver wrapper for failure injection: accepts
  * `jdbc:graftflaky:<derby-suffix>` URLs, throws a Derby-shaped
  * transient lock-timeout SQLException (SQLState 40XL1) while
  * [[GraftFlakyDerbyDriver.failsLeft]] is positive, then delegates to
  * embedded Derby. Spark resolves it by class name through the
  * `driver` option, so the injection sits under Spark's real JDBC
  * write path. */
class GraftFlakyDerbyDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:graftflaky:")
  override def connect(url: String, info: java.util.Properties): Connection = {
    if (!acceptsURL(url)) return null
    GraftFlakyDerbyDriver.connects.incrementAndGet()
    if (GraftFlakyDerbyDriver.tryConsumeFailure())
      throw new SQLException("injected: lock could not be obtained", "40XL1")
    DriverManager.getConnection(
      "jdbc:derby:" + url.stripPrefix("jdbc:graftflaky:"), info)
  }
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object GraftFlakyDerbyDriver {
  val failsLeft = new AtomicInteger(0)
  val connects = new AtomicInteger(0)
  /** Decrement only while positive (CAS loop): later successful
    * connects must not drift the counter negative, so the spec can
    * assert both failures were consumed with `failsLeft.get == 0`. */
  @annotation.tailrec
  def tryConsumeFailure(): Boolean = {
    val v = failsLeft.get()
    if (v <= 0) false
    else if (failsLeft.compareAndSet(v, v - 1)) true
    else tryConsumeFailure()
  }
}
