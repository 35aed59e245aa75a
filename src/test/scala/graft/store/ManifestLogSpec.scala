package graft.store

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import graft.core.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The exclusive publish every manifest commit rests on. */
class ManifestLogSpec extends AnyFunSuite {

  test("publish: of two threads racing for one seq exactly one wins, 500 trials") {
    val conf = TestSpark.spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft-publish").toString
    val log = new ManifestLog(conf, dir, wholeRecords = true)
    (1L to 500L).foreach { seq =>
      val barrier = new CyclicBarrier(2)
      val outcomes = new ConcurrentLinkedQueue[(String, Either[Throwable, Boolean])]()
      val threads = Seq("a", "b").map { tag =>
        new Thread(() => {
          barrier.await()
          outcomes.add(tag -> (try Right(log.publish(log.record(seq), tag))
            catch { case e: Throwable => Left(e) }))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val results = outcomes.toArray(Array.empty[(String, Either[Throwable, Boolean])]).toSeq
      assert(results.forall(_._2.isRight), s"trial $seq: $results")
      val winners = results.collect { case (tag, Right(true)) => tag }
      assert(winners.size == 1, s"trial $seq: ${winners.size} writers published")
      assert(log.read(log.record(seq)).contains(winners.head), s"trial $seq: not the winner's record")
    }
    val left = Files.list(Paths.get(dir, "_manifest")).toArray.map(_.toString)
    assert(!left.exists(_.endsWith(".tmp")), "a racer left its tmp file")
  }
}
