package graft.etl

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Config/logging surface tests (reference src/config.py + src/logger.py
  * semantics): env parsing with the reference defaults, typed validation
  * errors, retry loop, and the structured log line format + file sink.
  * No SparkSession needed — driver-side plumbing only.
  */
class EtlConfigSpec extends AnyFunSuite {

  test("fromEnv applies the reference defaults and composes the JDBC URL") {
    val cfg = EtlConfig.fromEnv(Map.empty)
    assert(cfg.dbHost == "localhost" && cfg.dbPort == 5432 && cfg.dbName == "finance_etl")
    assert(cfg.batchSize == 1000 && cfg.enableValidation)
    assert(cfg.maxDbRetries == 3 && cfg.retryDelaySec == 1)
    assert(cfg.logLevel == "INFO" && cfg.logFile.isEmpty)
    assert(cfg.jdbcUrl == "jdbc:postgresql://localhost:5432/finance_etl")
  }

  test("fromEnv overrides from the environment and rejects malformed values") {
    val cfg = EtlConfig.fromEnv(Map(
      "DB_HOST" -> "wh.internal", "DB_PORT" -> "5433", "DB_NAME" -> "prod",
      "BATCH_SIZE" -> "5000", "ENABLE_VALIDATION" -> "false",
      "LOG_LEVEL" -> "DEBUG", "LOG_FILE" -> "/tmp/etl.log"))
    assert(cfg.jdbcUrl == "jdbc:postgresql://wh.internal:5433/prod")
    assert(cfg.batchSize == 5000 && !cfg.enableValidation)
    assert(cfg.logFile.contains("/tmp/etl.log"))
    assertThrows[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("DB_PORT" -> "not-a-port"))
    }
    assertThrows[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("ENABLE_VALIDATION" -> "maybe"))
    }
  }

  test("withRetries retries to success and rethrows after exhaustion") {
    var calls = 0
    val out = EtlConfig.withRetries(3, 0) {
      calls += 1
      if (calls < 3) sys.error(s"boom $calls") else "ok"
    }
    assert(out == "ok" && calls == 3)
    var failCalls = 0
    val e = intercept[RuntimeException] {
      EtlConfig.withRetries(2, 0) { failCalls += 1; sys.error("always") }
    }
    assert(e.getMessage == "always" && failCalls == 3) // 1 try + 2 retries
  }

  test("withRetries rethrows a fatal throwable on the first attempt, without retrying") {
    var calls = 0
    intercept[InterruptedException] {
      EtlConfig.withRetries(3, 1) { calls += 1; throw new InterruptedException("stop") }
    }
    assert(calls == 1)
  }

  test("PhaseLog writes the reference line format to the file sink and brackets phases") {
    val f = Files.createTempDirectory("graft-log").resolve("etl.log").toString
    val log = new PhaseLog("etl_pipeline", "INFO", Some(f))
    val result = log.phase("transform") { 40 + 2 }
    assert(result == 42)
    log.debug("hidden at INFO")
    intercept[RuntimeException] { log.phase("load") { sys.error("disk full") } }
    val lines = Files.readAllLines(Paths.get(f))
    // "%Y-%m-%d %H:%M:%S - name - LEVEL - message"
    val fmt = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} - etl_pipeline - \w+ - .*""".r
    assert(lines.size == 4, s"expected 4 lines, got:\n${lines.toArray.mkString("\n")}")
    lines.forEach(l => assert(fmt.matches(l), s"bad line format: $l"))
    assert(lines.get(0).contains("[transform] started"))
    assert(lines.get(1).contains("[transform] completed in"))
    assert(lines.get(2).contains("[load] started"))
    assert(lines.get(3).contains("ERROR") && lines.get(3).contains("[load] FAILED")
      && lines.get(3).contains("disk full"))
  }
}
