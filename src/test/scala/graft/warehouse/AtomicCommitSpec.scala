package graft.warehouse

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.{Lake, Landing}

class AtomicCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tables(rows: (Long, String)*): Map[String, (org.apache.spark.sql.DataFrame, Seq[String])] =
    Map(
      "alpha" -> (rows.toDF("id", "v"), Seq("id")),
      "beta" -> (rows.map { case (id, v) => (id * 10, v) }.toDF("id", "v"), Seq("id")))

  test("commit is atomic across tables: a crash between staging and publish leaves the old snapshot") {
    val root = Files.createTempDirectory("graft-ac").toString
    AtomicCommit.commitTables(spark, root, tables((1L, "a"), (2L, "b")))
    assert(AtomicCommit.snapshot(spark, root, "alpha").get.count() == 2)
    assert(AtomicCommit.snapshot(spark, root, "beta").get.count() == 2)

    // "crash": every segment of the next commit is fully written (prepare
    // returns), but the process dies before publish — readers of BOTH
    // tables must still see the version-1 snapshot
    val staged = AtomicCommit.prepare(spark, root, tables((3L, "c"), (4L, "d")))
    assert(staged.counts == Map("alpha" -> 2L, "beta" -> 2L))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "alpha").get) ==
      Seq("[1,a]", "[2,b]"), "reader saw a half-committed snapshot")
    assert(rowSet(AtomicCommit.snapshot(spark, root, "beta").get) ==
      Seq("[10,a]", "[20,b]"))

    // retry after the crash: the re-commit overwrites the orphaned segments
    // and publishes everything at once
    AtomicCommit.commitTables(spark, root, tables((3L, "c"), (4L, "d")))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "alpha").get) ==
      Seq("[1,a]", "[2,b]", "[3,c]", "[4,d]"))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "beta").get) ==
      Seq("[10,a]", "[20,b]", "[30,c]", "[40,d]"))
    // the retry re-derives version 2 from the committed manifest and
    // overwrites the crashed attempt's orphaned segment directories
    assert(AtomicCommit.readManifest(spark, root)._1 == 2)
  }

  test("re-committing the same batch is idempotent (anti-join on the snapshot)") {
    val root = Files.createTempDirectory("graft-ac").toString
    val first = AtomicCommit.commitTables(spark, root, tables((1L, "a"), (2L, "b")))
    assert(first == Map("alpha" -> 2L, "beta" -> 2L))
    val second = AtomicCommit.commitTables(spark, root, tables((1L, "a"), (2L, "b")))
    assert(second == Map("alpha" -> 0L, "beta" -> 0L))
    assert(AtomicCommit.snapshot(spark, root, "alpha").get.count() == 2)
    // zero-fresh commits stage no segments but still advance the version
    assert(AtomicCommit.readManifest(spark, root)._1 == 2)
    // ... and leave no staged directory behind on disk either
    Seq("alpha", "beta").foreach { t =>
      assert(!Files.exists(Paths.get(root, t, "seg-2")), s"$t/seg-2 left on disk")
    }
  }

  test("a table that fails to stage fails the whole commit: old snapshot kept, " +
      "no staging job outlives the call, the retry commits both tables") {
    val root = Files.createTempDirectory("graft-ac").toString
    AtomicCommit.commitTables(spark, root, tables((1L, "a"), (2L, "b"))) // v1
    // beta (listed first) throws inside its write job while alpha stages
    // slowly: the commit may only return once alpha's job has ended too.
    // The repartition keeps the UDFs in tasks: over a bare local relation
    // the optimizer would run them while planning, before any job starts.
    val slow = udf { (v: String) => Thread.sleep(1500); v }
    val boom = udf { (v: String) =>
      if (v == "boom") throw new IllegalStateException("staging failed"); v
    }
    def frame(id: Long, v: String, f: org.apache.spark.sql.expressions.UserDefinedFunction) =
      (Seq((id, v)).toDF("id", "v").repartition(1).withColumn("v", f(col("v"))), Seq("id"))
    val bad = Map("beta" -> frame(30L, "boom", boom), "alpha" -> frame(3L, "c", slow))
    val e = intercept[Exception](AtomicCommit.commitTables(spark, root, bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("staging failed")), e)
    drain()
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a staging job of the failed commit is still running")
    assert(AtomicCommit.readManifest(spark, root)._1 == 1, "a failed commit must not publish")
    assert(rowSet(AtomicCommit.snapshot(spark, root, "alpha").get) == Seq("[1,a]", "[2,b]"))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "beta").get) == Seq("[10,a]", "[20,b]"))

    // the retry with good input commits both tables at the next version
    assert(AtomicCommit.commitTables(spark, root, tables((3L, "c"))) ==
      Map("alpha" -> 1L, "beta" -> 1L))
    assert(AtomicCommit.readManifest(spark, root)._1 == 2)
    assert(rowSet(AtomicCommit.snapshot(spark, root, "alpha").get) ==
      Seq("[1,a]", "[2,b]", "[3,c]"))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "beta").get) ==
      Seq("[10,a]", "[20,b]", "[30,c]"))
  }

  test("every job of a commit carries the caller's local properties") {
    val root = Files.createTempDirectory("graft-ac").toString
    val sc = spark.sparkContext
    val prop = "graft.test.commit"
    // a first commit without the property: a pool kept across calls would
    // create its threads here, and they would not see the property below
    AtomicCommit.commitTables(spark, root, tables((1L, "a")))
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties).flatMap(p => Option(p.getProperty(prop)))); ()
      }
    }
    drain()
    sc.addSparkListener(l)
    sc.setLocalProperty(prop, "second")
    try {
      // reads the v1 snapshot's keys and writes both tables
      AtomicCommit.commitTables(spark, root, tables((1L, "a"), (2L, "b")))
      drain()
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(l)
    }
    val props = seen.asScala.toSeq
    assert(props.nonEmpty)
    assert(props.forall(_.contains("second")), props)
  }

  test("time travel + rollback: every version stays readable; rollback reverts readers, keeps history") {
    val root = Files.createTempDirectory("graft-ac").toString
    AtomicCommit.commitTables(spark, root, tables((1L, "a"), (2L, "b"))) // v1
    AtomicCommit.commitTables(spark, root, tables((3L, "c")))           // v2
    assert(rowSet(AtomicCommit.snapshotAt(spark, root, "alpha", 1).get) ==
      Seq("[1,a]", "[2,b]"))
    assert(rowSet(AtomicCommit.snapshotAt(spark, root, "alpha", 2).get) ==
      Seq("[1,a]", "[2,b]", "[3,c]"))

    // rollback publishes a NEW version pointing at v1's segments: current
    // readers revert, the rolled-back-over commit stays in history
    assert(AtomicCommit.rollback(spark, root, 1) == 3)
    assert(rowSet(AtomicCommit.snapshot(spark, root, "alpha").get) ==
      Seq("[1,a]", "[2,b]"))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "beta").get) ==
      Seq("[10,a]", "[20,b]"))
    assert(rowSet(AtomicCommit.snapshotAt(spark, root, "alpha", 2).get)
      .contains("[3,c]"), "history must survive the rollback")

    // idempotency anti-joins against the CURRENT (reverted) snapshot, so
    // the undone batch re-commits as fresh rows
    val again = AtomicCommit.commitTables(spark, root, tables((3L, "c")))
    assert(again == Map("alpha" -> 1L, "beta" -> 1L))
    assert(rowSet(AtomicCommit.snapshot(spark, root, "alpha").get) ==
      Seq("[1,a]", "[2,b]", "[3,c]"))
  }

  test("a crashed publish's history file is unreadable: snapshotAt/rollback reject uncommitted versions") {
    val root = Files.createTempDirectory("graft-ac").toString
    AtomicCommit.commitTables(spark, root, tables((1L, "a"))) // committed v1
    // simulate the crash window inside publish: MANIFEST-v2 (history) is
    // written, segments are staged, but the process dies BEFORE the atomic
    // rename — v2 never committed
    val staged = AtomicCommit.prepare(spark, root, tables((2L, "phantom")))
    val hist = java.nio.file.Paths.get(root, "MANIFEST-v2")
    Files.write(hist, staged.manifestBody.getBytes("UTF-8"))
    assert(AtomicCommit.readManifest(spark, root)._1 == 1, "crash must not commit")

    // the history APIs must not surface the phantom version's staged data
    val e1 = intercept[IllegalArgumentException](
      AtomicCommit.snapshotAt(spark, root, "alpha", 2))
    assert(e1.getMessage.contains("not committed"))
    val e2 = intercept[IllegalArgumentException](AtomicCommit.rollback(spark, root, 2))
    assert(e2.getMessage.contains("not committed"))
    // committed history stays readable
    assert(rowSet(AtomicCommit.snapshotAt(spark, root, "alpha", 1).get) == Seq("[1,a]"))

    // the retried commit overwrites the orphan and makes v2 real
    AtomicCommit.commitTables(spark, root, tables((2L, "c")))
    assert(rowSet(AtomicCommit.snapshotAt(spark, root, "alpha", 2).get) ==
      Seq("[1,a]", "[2,c]"))
  }

  test("registerViews registers empty-schema views for tables with no committed rows") {
    val root = Files.createTempDirectory("graft-ac").toString
    AtomicCommit.registerViews(spark, root) // nothing committed at all
    graft.model.Schemas.warehouseSchemas.foreach { case (t, schema) =>
      val view = spark.table(t)
      assert(view.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq, s"schema of empty view $t")
      assert(view.count() == 0)
    }
    // a query over the empty views returns empty, not TABLE_OR_VIEW_NOT_FOUND
    assert(spark.sql(
      "SELECT v.video_title, count(*) c FROM video v JOIN comment m USING (video_id) GROUP BY 1")
      .count() == 0)
  }

  test("migrateAtomic: lake -> four warehouse tables in one commit, views resolve") {
    val root = Files.createTempDirectory("graft-ac").toString
    val lakePath = s"$root/lake"
    val ch = Landing.channels(spark, resource("landing/channels.json"))
    val pl = Landing.playlists(spark, resource("landing/playlists.json"))
    val vd = Landing.videos(spark, resource("landing/videos.json"))
    val cm = Landing.comments(spark, resource("landing/comments.json"))
    Lake.write(Lake.buildDocuments(ch, pl, vd, cm), lakePath)
    val counts = AtomicCommit.migrateAtomic(spark, lakePath, s"$root/wh")
    assert(counts == Map("channel" -> 4L, "playlist" -> 4L, "video" -> 14L, "comment" -> 5L))
    // re-migration commits nothing new, like Migration.migrate (K3)
    val again = AtomicCommit.migrateAtomic(spark, lakePath, s"$root/wh")
    assert(again.values.sum == 0L)
    AtomicCommit.registerViews(spark, s"$root/wh")
    assert(spark.table("video").filter(col("likes").isNotNull).count() == 14)
  }
}
