package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The build-once artifact store ([[Tables.persisted]]): keys follow
  * the inputs' file snapshot, a final directory is complete by
  * construction, and concurrent or failed builds leave one artifact or
  * none.
  */
class StoreSpec extends SparkSpec {

  /** A fresh one-file parquet input and its relation. */
  private def input(name: String): DataFrame = {
    val path = Files.createTempDirectory(name).resolve("in.parquet").toString
    spark.range(3).toDF("id").repartition(1).write.parquet(path)
    spark.read.parquet(path)
  }

  /** Temp dirs a build of `target` left next to it. */
  private def leftovers(target: String): Seq[Path] = {
    val t = Paths.get(target)
    val all = Files.list(t.getParent)
    try all.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(s"${t.getFileName}.tmp-"))
    finally all.close()
  }

  private def writeMarker(dir: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "marker"), text.getBytes("UTF-8"))
  }

  private def marker(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "marker")), "UTF-8")

  private def remove(dir: String): Unit = {
    val all = Files.walk(Paths.get(dir))
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }

  test("q104 over an embeddings corpus rewritten in place with the same row count rebuilds") {
    val d = Files.createTempDirectory("store_q104").toString
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = src.count()
    src.write.parquet(s"$d/embeddings.parquet")
    // fresh sessions, so the per-session Tables.t memo cannot mask a rewrite
    def session(): SparkSession = {
      val s = spark.newSession()
      graft.functions.expressions.GraftFunctions.register(s)
      s
    }
    // the same gate with nothing persisted: a fresh build, an uncached audit
    def uncached(s: SparkSession) = {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      VF.topKRecallAudit(VF.ivfProbe(q, VF.buildIvf(emb, nlist = 16, refine = 1),
        k = 5, nprobe = 6), q, emb, k = 5, bound = 0.60).collect().toSeq
    }
    val s1 = session()
    val before = graft.queries.VectorQueries.q104IvfPersisted(s1, d).collect().toSeq
    assert(before == uncached(s1))
    // same rows and row count, ids shifted cyclically by half: every id
    // now names another vector, so the query batch and its neighbours change
    src.select(((col("vec_id") + n / 2) % n).as("vec_id"), col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val s2 = session()
    assert(Tables.embeddings(s2, d).count() == n)
    val after = graft.queries.VectorQueries.q104IvfPersisted(s2, d).collect().toSeq
    assert(after == uncached(s2), "a rewritten corpus must not be served the old index or exact top-k")
    assert(after != before)
  }

  test("exactNearDupPairsCached over a rewritten, re-read input returns the new pairs") {
    import spark.implicits._
    val path = Files.createTempDirectory("store_pairs").resolve("emb.parquet").toString
    def write(vecs: Seq[(Long, Seq[Float])]): Unit =
      vecs.toDF("vec_id", "embedding").repartition(1).write.mode("overwrite").parquet(path)
    def pairs(): Set[(Long, Long)] =
      VF.exactNearDupPairsCached(spark.read.parquet(path), "vec_id", "embedding", 0.9)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    write(Seq(0L -> Seq(1f, 0f), 1L -> Seq(1f, 0.1f), 2L -> Seq(0f, 1f), 3L -> Seq(-1f, 0f)))
    assert(pairs() == Set((0L, 1L)))
    // same row count, different near-duplicates
    write(Seq(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f), 2L -> Seq(0f, 1.1f), 3L -> Seq(-1f, 0f)))
    assert(pairs() == Set((1L, 2L)), "a rewritten corpus must not be served the old pair set")
  }

  test("a build that throws part-way publishes nothing, and the next call rebuilds") {
    val in = input("store_throw")
    val target = Tables.storePath("spec", "throw", Seq(in))
    val e = intercept[IllegalStateException] {
      Tables.persisted("spec", "throw", Seq(in)) { dir =>
        writeMarker(dir, "half")
        throw new IllegalStateException("writer died")
      }
    }
    assert(e.getMessage == "writer died")
    assert(!Files.exists(Paths.get(target)) && leftovers(target).isEmpty)
    val builds = new AtomicInteger
    val got = Tables.persisted("spec", "throw", Seq(in)) { dir =>
      builds.incrementAndGet()
      writeMarker(dir, "whole")
    }
    assert(got == target && builds.get == 1 && marker(target) == "whole")
    remove(target)
  }

  test("a target another process publishes before our rename is adopted; our temp dir is gone") {
    val in = input("store_race")
    val target = Tables.storePath("spec", "race", Seq(in))
    val got = Tables.persisted("spec", "race", Seq(in)) { dir =>
      writeMarker(dir, "ours")
      // the other process completes and publishes between our check and our rename
      val theirs = s"$target.theirs"
      writeMarker(theirs, "theirs")
      Files.move(Paths.get(theirs), Paths.get(target), StandardCopyOption.ATOMIC_MOVE)
    }
    assert(got == target && marker(target) == "theirs")
    assert(leftovers(target).isEmpty, "the losing build's temp dir must be deleted")
    remove(target)
  }

  test("two threads asking for one key run the build once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val in = input("store_threads")
    val builds = new AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val calls = (1 to 2).map(_ => Future {
      start.await()
      Tables.persisted("spec", "threads", Seq(in)) { dir =>
        builds.incrementAndGet()
        Thread.sleep(300) // long enough for the other thread to arrive
        writeMarker(dir, "built")
      }
    })
    start.countDown()
    val got = calls.map(Await.result(_, 60.seconds))
    assert(got.distinct.size == 1 && builds.get == 1 && marker(got.head) == "built")
    remove(got.head)
  }

  test("computing a store key over spark.read.parquet(path) runs no Spark job") {
    val df = input("store_jobs")
    Thread.sleep(500) // any job of the read itself posts before the window opens
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.storePath("spec", "jobs", Seq(df, df.filter(col("id") < 2)))
      Thread.sleep(500) // job-start events post async to the listener bus
      assert(jobs.get == 0)
      df.count() // the listener does see jobs
      Thread.sleep(500)
      assert(jobs.get >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
