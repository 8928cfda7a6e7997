package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.graftbridge.Boundary
import org.apache.spark.storage.StorageLevel

/** The stage-boundary primitive: measured statistics and scoped release. */
class BoundarySpec extends SparkSpec {
  import spark.implicits._

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  private def broadcasts(threshold: String): Boolean = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, threshold)
    try Boundary.scoped {
      // 80 MB by its own statistics: never the broadcast side
      val big = spark.range(0L, 10000000L).toDF("id")
      val small = Boundary.stage(spark.range(0L, 100L).toDF("id")
        .filter($"id" % 2 === 0))
      big.join(small, "id").queryExecution.sparkPlan
        .collect { case j: BroadcastHashJoinExec => j }.nonEmpty
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a small staged relation broadcasts from its measured size, without a hint") {
    assert(broadcasts("10485760"))
  }

  test("a staged relation does not broadcast when broadcasting is disabled") {
    assert(!broadcasts("-1"))
  }

  test("staged statistics carry the exact row count") {
    Boundary.scoped {
      val df = spark.range(0L, 1000L).toDF("id").filter($"id" % 7 === 0)
      val staged = Boundary.stage(df)
      val stats = staged.queryExecution.analyzed.stats
      assert(stats.rowCount.contains(BigInt(df.count())))
      assert(stats.sizeInBytes > 0)
    }
  }

  test("a nested scope leaves the caller's pin in place") {
    val df = Seq(1, 2, 3).toDF("x").filter($"x" > 1)
    Boundary.scoped {
      val pinned = Boundary.pin(df)
      pinned.count()
      Boundary.scoped {
        val again = Boundary.pin(df)
        again.count()
        Boundary.release(again)
      }
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("an exception inside a scope still releases its boundaries") {
    val df = Seq(4, 5, 6).toDF("x").filter($"x" < 6)
    val before = persisted
    intercept[IllegalStateException] {
      Boundary.scoped {
        Boundary.stage(df)
        Boundary.pin(df).count()
        throw new IllegalStateException("boom")
      }
    }
    assert((persisted -- before).isEmpty)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("a Future started inside a scope takes its boundaries in that scope") {
    import Boundary.executionContext
    val before = persisted
    Boundary.scoped {
      Await.result(Future(Boundary.stage(Seq(7, 8).toDF("x"))), Duration.Inf)
      assert((persisted -- before).nonEmpty)
    }
    assert((persisted -- before).isEmpty)
  }
}
