package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Materialized

/** The one memo for fixture materializations: one build per key under
  * concurrent callers, nested builds, the per-pass/amortized split of
  * the bench reset, and failed builds that leave nothing behind. */
class MaterializedSpec extends AnyFunSuite {

  private def write(path: String, name: String): Unit = {
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, name), name)
  }

  test("8 concurrent callers of one key share one build") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          Materialized.dir("materializedspec:concurrent", perPass = false) { out =>
            builds.incrementAndGet()
            Thread.sleep(200)
            write(out, "part")
          }
        }
      }
      start.countDown()
      val paths = Await.result(Future.sequence(calls), 60.seconds)
      assert(builds.get == 1)
      assert(paths.distinct.size == 1 && Files.exists(Paths.get(paths.head, "part")))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a build that calls another key's memo completes") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val nested = Future {
      Materialized.dir("materializedspec:outer", perPass = true) { out =>
        val inner = Materialized.dir("materializedspec:inner", perPass = true)(
          write(_, "inner"))
        write(out, "outer")
        Files.copy(Paths.get(inner, "inner"), Paths.get(out, "inner"))
      }
    }
    val outer = Await.result(nested, 60.seconds)
    assert(Files.exists(Paths.get(outer, "outer")) && Files.exists(Paths.get(outer, "inner")))
  }

  test("resetPerPass rebuilds a per-pass dir and keeps an amortized one with its files") {
    val perPassBuilds = new AtomicInteger()
    def perPass() = Materialized.dir("materializedspec:perpass", perPass = true) { out =>
      perPassBuilds.incrementAndGet()
      write(out, "p")
    }
    val kept = Materialized.dir("materializedspec:amortized", perPass = false)(write(_, "a"))
    val before = perPass()
    Materialized.resetPerPass()
    assert(!Files.exists(Paths.get(before)), "the per-pass dir survived the reset")
    val after = perPass()
    assert(after != before && Files.exists(Paths.get(after, "p")) && perPassBuilds.get == 2)
    assert(Files.exists(Paths.get(kept, "a")), "the reset touched an amortized dir")
    assert(Materialized.dir("materializedspec:amortized", perPass = false)(
      _ => fail("the reset forgot an amortized entry")) == kept)
  }

  test("a build that throws leaves no entry and no dir; the next call builds again") {
    var failedAt = ""
    val e = intercept[IllegalStateException] {
      Materialized.dir("materializedspec:flaky", perPass = false) { out =>
        write(out, "half")
        failedAt = out
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(!Files.exists(Paths.get(failedAt).getParent), "the failed build's temp root remains")
    val rebuilt = Materialized.dir("materializedspec:flaky", perPass = false)(write(_, "whole"))
    assert(rebuilt != failedAt && Files.exists(Paths.get(rebuilt, "whole")))
  }
}
