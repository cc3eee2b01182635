package graft.warehouse

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.model.Schemas

/** Cross-table transactional commit for the warehouse — the reference
  * commits once per channel across all four entity tables
  * (/root/reference/app.py:389); [[Migration.migrate]] gives only per-table
  * write atomicity. This closes the gap without a table format: a
  * manifest-file commit.
  *
  * Layout: `root/<table>/seg-<version>` parquet segment directories plus one
  * `root/MANIFEST` text file mapping each table to the segment list that IS
  * the current snapshot, and one retained `root/MANIFEST-v<N>` per commit —
  * the history that makes [[snapshotAt]] (time travel) and [[rollback]]
  * plain file reads. A commit stages new segments for every table
  * ([[prepare]] — invisible, the manifest still points at the old segments)
  * and then publishes them all with ONE atomic manifest rename
  * ([[publish]]). The tables stage concurrently, one driver thread each, and
  * the rename waits for all of them. A crash anywhere before the rename
  * leaves readers on the old snapshot across all four tables; orphaned
  * staged segments are inert and get overwritten by the retry. Readers
  * ([[snapshot]]) never list directories — they read exactly the
  * manifest's segment list, so half-written data is unreachable by
  * construction.
  *
  * Scale: the manifest is O(tables × commits) text — the data path is still
  * plain parquet read over the manifest's segment paths, and the anti-join
  * idempotency guard is the same keyed shuffle as [[Migration
  * .idempotentAppend]]. A commit is one concurrent wave of one write job
  * per table: the fresh rows are counted inside the write, and every read
  * on the commit path (lake, snapshot keys, views) uses a declared schema,
  * so no schema-inference or counting job runs. The rename is atomic on
  * POSIX local filesystems and on HDFS (FileContext rename with OVERWRITE).
  */
object AtomicCommit {

  /** A fully-staged commit: every segment written, nothing visible. */
  case class Staged(root: String, version: Long, manifestBody: String,
      counts: Map[String, Long])

  private def manifestPath(root: String) = new Path(s"$root/MANIFEST")

  /** (version, table → segment paths relative to root). Version 0 = empty
    * warehouse (no manifest yet). */
  def readManifest(spark: SparkSession, root: String): (Long, Map[String, Seq[String]]) = {
    val p = manifestPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, Map.empty)
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val lines = body.linesIterator.filter(_.nonEmpty).toSeq
      val version = lines.head.stripPrefix("version=").toLong
      val tables = lines.tail.map { l =>
        val Array(t, segs) = l.split("=", 2)
        t -> (if (segs.isEmpty) Seq.empty[String] else segs.split(",").toSeq)
      }.toMap
      (version, tables)
    }
  }

  /** The current committed snapshot of `table`; None before its first
    * nonempty commit. Reads only manifest-listed segments — staged or
    * orphaned directories are invisible. */
  def snapshot(spark: SparkSession, root: String, table: String): Option[DataFrame] = {
    val segs = readManifest(spark, root)._2.getOrElse(table, Seq.empty)
    if (segs.isEmpty) None
    else Some(spark.read.parquet(segs.map(s => s"$root/$s"): _*))
  }

  /** Stage one segment per table: batch-dedup on the primary key, anti-join
    * against the CURRENT snapshot (idempotent re-commit), write the fresh
    * rows to `table/seg-<nextVersion>`. Nothing becomes visible until
    * [[publish]].
    *
    * The tables stage concurrently, each on its own thread of a pool made
    * for this call, so the threads inherit the caller's Spark local
    * properties (job group, scheduler pool). Each table is one pass: the
    * fresh rows are written once and counted in the same job
    * (`Dataset.observe`); a table with nothing fresh has its staged
    * directory deleted and stages no segment. Writing straight from the
    * anti-join is safe: the snapshot it reads lists only committed
    * segments, never the new `seg-<nextVersion>`. If any table fails, every
    * other table is still waited for before the first failure is rethrown,
    * so no staging job of a failed commit races the retry's write to the
    * same segment. */
  def prepare(spark: SparkSession, root: String,
      tables: Map[String, (DataFrame, Seq[String])]): Staged = {
    val (version, current) = readManifest(spark, root)
    val next = version + 1
    val pool = Executors.newFixedThreadPool(tables.size max 1)
    val staged = try {
      val pending = tables.toSeq.map { case (t, (df, pk)) =>
        pool.submit(new Callable[(String, Option[String], Long)] {
          def call() = {
            val (seg, n) = stage(spark, root, current.getOrElse(t, Seq.empty),
              s"$t/seg-$next", df, pk)
            (t, seg, n)
          }
        })
      }
      val done = pending.map(f => Try(f.get()))
      done.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
      done.map(_.get)
    } finally pool.shutdown()
    val merged = staged.map { case (t, seg, _) =>
      s"$t=" + (current.getOrElse(t, Seq.empty) ++ seg).mkString(",")
    }
    // carry forward tables absent from this commit unchanged
    val untouched = (current.keySet -- tables.keySet).map { t =>
      s"$t=" + current(t).mkString(",")
    }
    val body = (Seq(s"version=$next") ++ merged ++ untouched).mkString("\n")
    Staged(root, next, body, staged.map { case (t, _, n) => t -> n }.toMap)
  }

  /** One table's staging pass: the batch rows whose key is in none of
    * `segs`, written to `seg` and counted in the same job. The snapshot is
    * read for its key columns only, typed as the batch types them. Returns
    * the staged segment (None when nothing is fresh) and the row count. */
  private def stage(spark: SparkSession, root: String, segs: Seq[String],
      seg: String, df: DataFrame, pk: Seq[String]): (Option[String], Long) = {
    val batch = df.dropDuplicates(pk)
    val fresh =
      if (segs.isEmpty) batch
      else batch.join(read(spark, root, segs, StructType(pk.map(batch.schema(_)))),
        pk, "left_anti")
    val rows = Observation()
    val out = new Path(s"$root/$seg")
    fresh.observe(rows, count(lit(1)).as("n")).write.mode("overwrite").parquet(out.toString)
    val n = rows.get("n").asInstanceOf[Long]
    if (n == 0) out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    (if (n > 0) Some(seg) else None, n)
  }

  /** The manifest-listed segments `segs` of one table, read with `schema`. */
  private def read(spark: SparkSession, root: String, segs: Seq[String],
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(segs.map(s => s"$root/$s"): _*)

  /** Atomically publish a staged commit: persist the versioned manifest
    * (`MANIFEST-v<N>` — the commit history [[snapshotAt]]/[[rollback]]
    * read), write the new manifest body to a temp name, then rename over
    * `MANIFEST` — the rename is the one indivisible step; a crash after the
    * history write but before the rename leaves an orphan `MANIFEST-v` file
    * the retry overwrites. The orphan is unreachable in the meantime: the
    * history APIs refuse any version beyond the committed one
    * ([[requireCommitted]]), so a crashed publish can never expose
    * staged-but-unpublished data through time travel or rollback. */
  def publish(spark: SparkSession, staged: Staged): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hist = new Path(s"${staged.root}/MANIFEST-v${staged.version}")
    val fs = hist.getFileSystem(conf)
    val histOut = fs.create(hist, true)
    try histOut.write(staged.manifestBody.getBytes(StandardCharsets.UTF_8))
    finally histOut.close()
    val tmp = new Path(s"${staged.root}/MANIFEST.tmp-${staged.version}")
    val out = fs.create(tmp, true)
    try out.write(staged.manifestBody.getBytes(StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, manifestPath(staged.root), Options.Rename.OVERWRITE)
  }

  /** `require` that `version` is a COMMITTED version — i.e. `<=` the version
    * the current `MANIFEST` resolves. A `MANIFEST-v<N>` history file can
    * exist for a version that never committed ([[publish]] writes it before
    * the atomic rename; a crash in between leaves it behind), and reading it
    * would expose staged-but-unpublished data. This guard keeps the history
    * APIs on the committed prefix only; the orphan file is overwritten by
    * the retried commit. */
  private def requireCommitted(spark: SparkSession, root: String, version: Long): Unit = {
    val committed = readManifest(spark, root)._1
    require(version <= committed,
      s"version $version is not committed at $root (current committed version " +
        s"is $committed); a MANIFEST-v$version beyond the committed version is " +
        "the artifact of a crashed publish, not a readable snapshot")
  }

  /** The committed snapshot of `table` AS OF `version` (time travel):
    * segments are append-only and manifests are retained per version, so
    * any historical snapshot stays readable until a compaction rewrites
    * it. None if the table had no rows at that version. Versions beyond the
    * current committed one are rejected even if a crashed publish left
    * their history file behind. */
  def snapshotAt(spark: SparkSession, root: String, table: String,
      version: Long): Option[DataFrame] = {
    requireCommitted(spark, root, version)
    val p = new Path(s"$root/MANIFEST-v$version")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no manifest history for version $version at $root")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val segs = body.linesIterator.filter(_.nonEmpty).drop(1).map { l =>
      val Array(t, s) = l.split("=", 2)
      t -> (if (s.isEmpty) Seq.empty[String] else s.split(",").toSeq)
    }.toMap.getOrElse(table, Seq.empty)
    if (segs.isEmpty) None
    else Some(spark.read.parquet(segs.map(s => s"$root/$s"): _*))
  }

  /** History-preserving rollback: publish a NEW version whose segment
    * lists are those of `toVersion` — the bad commits stay in the history
    * (auditable), but the current snapshot every reader resolves reverts.
    * Returns the new version number. */
  def rollback(spark: SparkSession, root: String, toVersion: Long): Long = {
    requireCommitted(spark, root, toVersion)
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(s"$root/MANIFEST-v$toVersion")
    val fs = target.getFileSystem(conf)
    require(fs.exists(target), s"no manifest history for version $toVersion at $root")
    val in = fs.open(target)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val next = readManifest(spark, root)._1 + 1
    val newBody = (s"version=$next" +: body.linesIterator.filter(_.nonEmpty).drop(1).toSeq)
      .mkString("\n")
    publish(spark, Staged(root, next, newBody, Map.empty))
    next
  }

  /** prepare + publish; returns per-table freshly-committed row counts. */
  def commitTables(spark: SparkSession, root: String,
      tables: Map[String, (DataFrame, Seq[String])]): Map[String, Long] = {
    val staged = prepare(spark, root, tables)
    publish(spark, staged)
    staged.counts
  }

  /** Snapshot-REPLACE commit for one table: stage `df` as a single new
    * segment and publish a manifest pointing the table at ONLY that
    * segment (every other table carries forward unchanged). The commit
    * shape for REWRITING merges — [[Scd2.merge]] closes existing open
    * versions, so its output is a new snapshot, not an appendable delta;
    * the append-only [[prepare]] path cannot express it. Superseded
    * segments stay on disk, so [[snapshotAt]] time travel over the
    * replaced history keeps working until an external cleanup reclaims
    * them. Same crash contract as every commit: nothing is visible until
    * the single manifest rename. Returns the published version. */
  def replaceTable(spark: SparkSession, root: String, table: String,
      df: DataFrame): Long = {
    val (version, current) = readManifest(spark, root)
    val next = version + 1
    val seg = s"$table/seg-$next"
    df.write.mode("overwrite").parquet(s"$root/$seg")
    val untouched = (current.keySet - table).toSeq.sorted.map { t =>
      s"$t=" + current(t).mkString(",")
    }
    val body = (Seq(s"version=$next", s"$table=$seg") ++ untouched).mkString("\n")
    publish(spark, Staged(root, next, body, Map.empty))
    next
  }

  /** [[Migration.migrate]] with all-four-tables atomicity: either every
    * entity table advances to the new snapshot or none does. */
  def migrateAtomic(spark: SparkSession, lakePath: String,
      root: String): Map[String, Long] = {
    val lake = spark.read.schema(Schemas.lakeDocSchema).parquet(lakePath)
    commitTables(spark, root, Map(
      "channel" -> (Migration.channelTable(lake), Seq("channel_id")),
      "playlist" -> (Migration.playlistTable(lake), Seq("playlist_id")),
      "video" -> (Migration.videoTable(lake), Seq("video_id")),
      "comment" -> (Migration.commentTable(lake), Seq("comment_id"))))
  }

  /** Temp-view registration resolving through the manifest (the atomic
    * counterpart of [[Migration.registerViews]]). Each table is read with
    * its declared warehouse schema, so registering runs no schema-inference
    * job. A table with no committed rows yet (e.g. an input channel with
    * zero comments) registers as an EMPTY view with the same schema, so
    * downstream queries return empty results instead of
    * TABLE_OR_VIEW_NOT_FOUND — matching what [[Migration.registerViews]]
    * resolves from an empty parquet table. */
  def registerViews(spark: SparkSession, root: String): Unit = {
    val current = readManifest(spark, root)._2
    Schemas.warehouseSchemas.foreach { case (t, schema) =>
      val segs = current.getOrElse(t, Seq.empty)
      (if (segs.nonEmpty) read(spark, root, segs, schema)
       else spark.createDataFrame(
         java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
        .createOrReplaceTempView(t)
    }
  }
}
