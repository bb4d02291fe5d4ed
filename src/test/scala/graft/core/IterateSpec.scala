package graft.core

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IterativeSum

class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sumFixture: org.apache.spark.sql.Dataset[Long] = sumFixture(2)

  private def sumFixture(partitions: Int) = {
    // The reference's sum fixture semantics: 2 splits totalling 15
    // (guagua-examples/src/test/resources/sum/{a,b}.txt); partition count is
    // pinned (2 unless a test says otherwise) because the recurrence is
    // partition-count sensitive.
    spark.read.textFile(getClass.getResource("/sum").getPath)
      .map(_.trim.toLong)
      .repartition(partitions)
  }

  test("golden: reference SumTest value 15345 after 10 iterations (SumTest.java:64-65)") {
    val r = IterativeSum.run(sumFixture, maxIterations = 10, haltAbove = Long.MaxValue)
    assert(r.master == 15345L)
    assert(r.iterations == 10)
    assert(!r.halted)
  }

  test("halt flag stops the loop early (SumMaster > 1,000,000 semantics)") {
    val r = IterativeSum.run(sumFixture, maxIterations = 50, haltAbove = 1000000L)
    // s_i = 2*s_{i-1} + 15 crosses 1,000,000 at iteration 17 (s_17 = 1966065).
    assert(r.halted)
    assert(r.iterations == 17)
    assert(r.master == IterativeSum.closedForm(15, 2, 17))
  }

  test("IterationBudget cap: min(declared, cap) inside withCap, identity outside") {
    // cap below declared: loop runs exactly `cap` iterations and the
    // closed-form value matches that shorter run
    val capped = IterationBudget.withCap(Some(4)) {
      IterativeSum.run(sumFixture, maxIterations = 10, haltAbove = Long.MaxValue)
    }
    assert(capped.iterations == 4)
    assert(capped.master == IterativeSum.closedForm(15, 2, 4))
    // cap above declared: identity
    val slack = IterationBudget.withCap(Some(99)) {
      IterativeSum.run(sumFixture, maxIterations = 3, haltAbove = Long.MaxValue)
    }
    assert(slack.iterations == 3)
    // scope discipline: cap restored (even nested), invalid cap refused
    assert(IterationBudget.cap.isEmpty)
    assert(IterationBudget.withCap(Some(2))(IterationBudget.effective(10)) == 2)
    assert(IterationBudget.effective(10) == 10)
    intercept[IllegalArgumentException](IterationBudget.withCap(Some(0))(()))
  }

  test("combinable and non-combinable paths agree") {
    // 2 and 4 partitions take the flat combinable round, 16 the tree.
    assert(Iterate.flatRound(4) && !Iterate.flatRound(16))
    for (parts <- Seq(2, 4, 16)) {
      val data = sumFixture(parts)
      val worker = new IterativeSum.SumWorker
      val master = new IterativeSum.SumMaster
      val combined = Iterate.run[Long, Long, Long](
        data, worker, master, maxIterations = 5, combine = Some(_ + _))
      val collected = Iterate.run[Long, Long, Long](
        data, worker, master, maxIterations = 5, combine = None)
      assert(combined.master == collected.master, s"$parts partitions")
      assert(combined.master == IterativeSum.closedForm(15, parts, 5), s"$parts partitions")
    }
  }

  test("flat combinable round folds partitions in index order, not completion order") {
    // A non-commutative combiner (list concatenation) exposes the fold order.
    // Lower partitions finish last, so a completion-order fold would reverse.
    val data = spark.range(0, 40, 1, 4).as[Long].persist()
    val worker = new WorkerComputable[Long, Vector[Int], Vector[Int]] {
      def compute(records: Iterator[Long], last: Option[Vector[Int]],
          ctx: IterationContext): Vector[Int] = {
        val part = org.apache.spark.TaskContext.getPartitionId()
        Thread.sleep(10L * (3 - part))
        Vector(part)
      }
    }
    val master = new MasterComputable[Vector[Int], Vector[Int]] {
      def compute(ws: Iterator[Vector[Int]], last: Option[Vector[Int]],
          ctx: IterationContext): Vector[Int] = ws.toVector.flatten
    }
    try {
      assert(Iterate.flatRound(data.rdd.getNumPartitions))
      for (run <- 1 to 20) {
        val r = Iterate.run[Long, Vector[Int], Vector[Int]](
          data, worker, master, maxIterations = 1, combine = Some(_ ++ _))
        assert(r.master == Vector(0, 1, 2, 3), s"run $run")
      }
    } finally data.unpersist()
  }

  test("listeners fire per iteration in order; onComplete sees final state") {
    val events = ArrayBuffer.empty[String]
    val l = new IterationListener[Long] {
      override def onStart(total: Int): Unit = events += s"start:$total"
      override def onIterationStart(i: Int): Unit = events += s"pre:$i"
      override def onIterationEnd(i: Int, m: Long, ms: Long): Unit = events += s"post:$i:$m"
      override def onComplete(r: IterationResult[Long]): Unit = events += s"done:${r.master}"
    }
    val r = IterativeSum.run(sumFixture, maxIterations = 3, haltAbove = Long.MaxValue)
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 3, combine = Some(_ + _), listeners = Seq(l))
    assert(events.toList == List(
      "start:3", "pre:1", "post:1:15", "pre:2", "post:2:45", "pre:3", "post:3:105",
      s"done:${r.master}"))
  }

  test("pre hooks fire FIFO, post hooks FILO (A13 interceptor unwinding)") {
    val events = ArrayBuffer.empty[String]
    def mk(name: String) = new IterationListener[Long] {
      override def onStart(total: Int): Unit = events += s"$name.start"
      override def onIterationStart(i: Int): Unit = events += s"$name.pre"
      override def onIterationEnd(i: Int, m: Long, ms: Long): Unit = events += s"$name.post"
      override def onComplete(r: IterationResult[Long]): Unit = events += s"$name.done"
    }
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 1, combine = Some(_ + _), listeners = Seq(mk("a"), mk("b")))
    // Reference semantics (GuaguaMasterService.java:369-415): registration
    // order going in, reverse order coming out.
    assert(events.toList == List(
      "a.start", "b.start", "a.pre", "b.pre", "b.post", "a.post", "b.done", "a.done"))
  }

  test("built-in system listeners report timing/memory/gc per iteration (A13 defaults)") {
    val lines = ArrayBuffer.empty[String]
    val sink = (s: String) => { lines += s; () }
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 2, combine = Some(_ + _),
      listeners = Seq(Listeners.timing[Long](sink), Listeners.memory[Long](sink),
        Listeners.gc[Long](sink)))
    // 2 iterations × 3 listeners + timing's completion line.
    assert(lines.count(_.startsWith("iteration 1:")) == 3)
    assert(lines.count(_.startsWith("iteration 2:")) == 3)
    assert(lines.count(_.startsWith("completed 2 iterations")) == 1)
    assert(lines.exists(_.contains("heap used")))
    assert(lines.exists(_.contains("GC time")))
  }

  test("checkpoint: loop resumes from persisted master state") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val first = Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 4, combine = Some(_ + _), checkpointDir = Some(dir))
    assert(first.master == IterativeSum.closedForm(15, 2, 4))
    // A "restarted job" with a larger budget picks up at iteration 5.
    val resumed = Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, new IterativeSum.SumMaster,
      maxIterations = 10, combine = Some(_ + _), checkpointDir = Some(dir))
    assert(resumed.master == 15345L)
    assert(resumed.iterations == 10)
  }

  test("master sees one pre-combined result on the combinable path, P results otherwise") {
    var seen = -1
    val countingMaster = new MasterComputable[Long, Long] {
      def compute(ws: Iterator[Long], last: Option[Long], ctx: IterationContext): Long = {
        val list = ws.toList
        seen = list.size
        list.sum
      }
    }
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, countingMaster,
      maxIterations = 1, combine = Some(_ + _))
    assert(seen == 1)
    Iterate.run[Long, Long, Long](
      sumFixture, new IterativeSum.SumWorker, countingMaster, maxIterations = 1)
    assert(seen == 2)
  }
}
