package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Catalog, Retry}

/** Reference-parity spec for the remote-catalog write discipline
  * (`etl/extract.py:135-159`): capped exponential backoff, retryable-only
  * retry, batch-of-100 DDL shape. Sleeps are injected — no wall-clock.
  */
class RetrySpec extends AnyFunSuite {

  private class Flaky(failures: Int, msg: String = "ThrottlingException") {
    var calls = 0
    def apply(): String = {
      calls += 1
      if (calls <= failures) throw new RuntimeException(msg)
      "ok"
    }
  }

  test("backoff is 2^attempt seconds capped at 32s, success returns") {
    val sleeps = collection.mutable.Buffer[Long]()
    val op = new Flaky(failures = 6)
    val out = Retry.withRetry(maxAttempts = 6, sleep = sleeps.append(_))(op())
    assert(out === "ok")
    assert(op.calls === 7)
    assert(sleeps.toSeq === Seq(2000L, 4000L, 8000L, 16000L, 32000L, 32000L))
  }

  test("exhausted attempts rethrow the throttling error") {
    val sleeps = collection.mutable.Buffer[Long]()
    val op = new Flaky(failures = 99)
    val e = intercept[RuntimeException] {
      Retry.withRetry(maxAttempts = 5, sleep = sleeps.append(_))(op())
    }
    assert(e.getMessage.contains("Throttling"))
    assert(op.calls === 6) // initial + 5 retries
    assert(sleeps.size === 5)
  }

  test("non-retryable errors fail fast with zero sleeps") {
    val sleeps = collection.mutable.Buffer[Long]()
    val op = new Flaky(failures = 1, msg = "AccessDeniedException")
    intercept[RuntimeException] {
      Retry.withRetry(maxAttempts = 5, sleep = sleeps.append(_))(op())
    }
    assert(op.calls === 1)
    assert(sleeps.isEmpty)
  }

  test("custom isRetryable overrides the throttling default") {
    val op = new Flaky(failures = 2, msg = "ConnectionReset")
    val out = Retry.withRetry(maxAttempts = 3, isRetryable = _ => true,
      sleep = _ => ())(op())
    assert(out === "ok")
  }

  test("fatal errors propagate even under a permissive isRetryable") {
    // InterruptedException is fatal to NonFatal: it must escape on the
    // first throw (zero sleeps) even when isRetryable says retry-anything
    // and its message contains a throttling substring.
    val sleeps = collection.mutable.Buffer[Long]()
    var calls = 0
    intercept[InterruptedException] {
      Retry.withRetry(maxAttempts = 5, isRetryable = _ => true,
        sleep = sleeps.append(_)) {
        calls += 1
        throw new InterruptedException("Throttling: rate exceeded")
      }
    }
    assert(calls === 1)
    assert(sleeps.isEmpty)
  }

  test("addPartitionsSql: one statement carries the whole batch, quoted") {
    val sql = Catalog.addPartitionsSql("db", "t", Seq("code", "day"),
      Seq(Seq("A'B", "2024-01-01"), Seq("C", "2024-01-02")), "/base")
    assert(sql.startsWith("ALTER TABLE `db`.`t` ADD IF NOT EXISTS"))
    // the value is SQL-quoted; the directory is the write's path-escaped one
    assert(sql.contains("PARTITION (`code`='A''B', `day`='2024-01-01') LOCATION '/base/code=A%27B/day=2024-01-01'"))
    assert(sql.contains("PARTITION (`code`='C', `day`='2024-01-02') LOCATION '/base/code=C/day=2024-01-02'"))
    // exactly one ALTER statement for the batch (the round-trip economy)
    assert("ALTER TABLE".r.findAllIn(sql).size === 1)
  }
}
