package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ingest.{FixtureChannelSource, Lake}
import graft.queries.AnalyticsQueries
import graft.warehouse.AtomicCommit

/** `elt_incremental`: the reference's job (extract → lake → warehouse →
  * Q1–Q10), fed one large backfill batch and then small incremental batches
  * that re-deliver some already-seen ids, as a re-polled API page would.
  * Each batch is ingested, committed with `migrateAtomic` (which re-reads
  * the whole lake) and followed by one refresh: Q1–Q10 fully collected.
  *
  * Write op = one commit (landing parse + lake write + migrateAtomic).
  * Read op = one refresh (registerViews + the ten queries collected). */
object Elt extends Workload {
  val name = "elt_incremental"
  val writeOp = "commit"
  val readOp = "refresh"

  private val Channels = 40
  private val Videos = 1400
  private val Comments = 3500
  /** The backfill and four incremental batches: an iteration then lasts
    * well over half of a 15 s run on any host speed seen, so every run
    * measures exactly one, and the median commit is an incremental one. */
  private val Batches = 5
  private val PageSize = 50
  /** Share of earlier-delivered videos and playlists each incremental
    * batch delivers again. */
  private val Repoll = 0.1

  // --- the generated universe (API-response fields; None = absent or null)
  final case class Chan(id: String, title: String, country: Option[String],
      views: Option[Long], subs: Option[Long], uploads: Option[Long],
      published: String, status: Option[String])
  final case class Pl(id: String, channel: Int, title: Option[String])
  final case class Vid(id: String, channel: Int, title: Option[String],
      desc: Option[String], published: String, tags: Option[Seq[String]],
      thumb: Option[String], duration: Option[String], durationS: Long,
      definition: String, caption: String, views: Option[Long],
      likes: Option[Long], commentCount: Option[Long])
  final case class Cm(id: String, video: Int, author: Option[String],
      text: String, published: String)

  /** One delivered batch: its landing dir, what it carries, and what the
    * warehouse must hold once it is committed. */
  final case class Batch(dir: String, items: Long, fresh: Map[String, Long],
      lakeRows: Long, expected: IndexedSeq[Seq[Seq[Any]]], tableRows: Map[String, Long])
  final case class Inputs(batches: IndexedSeq[Batch], landingBytes: Long)

  def generate(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val rng = new java.util.Random(seed)
    def opt[T](pMissing: Double)(v: => T): Option[T] =
      if (rng.nextDouble() < pMissing) None else Some(v)
    def date(y0: Int, y1: Int): String =
      f"${y0 + rng.nextInt(y1 - y0 + 1)}-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d" +
        f"T${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02dZ"
    val words = Array("review", "live", "tutorial", "vlog", "news", "music",
      "gaming", "recipe", "travel", "unboxing", "shorts", "talk")
    def phrase(n: Int) = Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")

    // channel 0 and the first playlist, video and comment are "anchors":
    // fully populated and delivered in every batch, so the JSON schema
    // inferred from any one batch always has every field the parsers read
    val chans = (0 until Channels).map { i =>
      val full = i == 0
      Chan(f"UC$i%04d", s"chan_$i ${phrase(1)}",
        if (full) Some("US") else opt(0.2)(Seq("US", "IN", "GB", "DE")(rng.nextInt(4))),
        if (full) Some(1000L) else opt(0.05)(rng.nextInt(50000000).toLong),
        if (full) Some(10L) else opt(0.15)(rng.nextInt(2000000).toLong),
        if (full) Some(3L) else opt(0.05)(rng.nextInt(500).toLong),
        date(2008, 2021), if (full) Some("public") else opt(0.1)("public"))
    }
    // skewed channel sizes: Zipf-like weights, a few channels hold most videos
    val cum = (0 until Channels).map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail
    def pickChannel(): Int = {
      val u = rng.nextDouble() * cum.last
      cum.indexWhere(_ >= u)
    }
    val playlists = mutable.ArrayBuffer.empty[Pl]
    for (c <- 0 until Channels; _ <- 0 until 1 + c % 4) {
      val full = playlists.isEmpty
      playlists += Pl(f"PL${playlists.length}%05d", if (full) 0 else c,
        if (full) Some("featured") else opt(0.05)(phrase(2)))
    }
    val vids = (0 until Videos).map { i =>
      val full = i == 0
      val (h, m, s) = (if (rng.nextDouble() < 0.8) 0 else 1 + rng.nextInt(2),
        rng.nextInt(60), rng.nextInt(60))
      val iso = "PT" + (if (h > 0) s"${h}H" else "") + (if (m > 0) s"${m}M" else "") +
        (if (s > 0 || h + m == 0) s"${s}S" else "")
      val duration = if (full) Some(iso) else opt(0.05)(iso)
      val disabled = !full && rng.nextDouble() < 0.15
      Vid(f"V$i%06d", if (full) 0 else pickChannel(),
        if (full) Some("welcome") else opt(0.03)(s"${phrase(3)} $i"),
        if (full) Some("about") else opt(0.3)(phrase(6)),
        date(2019, 2024),
        if (full) Some(Seq("intro")) else opt(0.3)(Seq.fill(1 + rng.nextInt(3))(words(rng.nextInt(words.length)))),
        if (full) Some(s"https://i.ytimg.com/vi/V$i/default.jpg") else opt(0.05)(s"https://i.ytimg.com/vi/V$i/default.jpg"),
        duration, if (duration.isDefined) h * 3600L + m * 60L + s else 0L,
        if (rng.nextBoolean()) "hd" else "sd", if (rng.nextBoolean()) "true" else "false",
        if (full) Some(5L) else opt(0.05)((math.exp(rng.nextDouble() * 15)).toLong),
        if (full) Some(1L) else opt(0.1)(rng.nextInt(100000).toLong),
        if (disabled) None else Some(rng.nextInt(5000).toLong))
    }
    val open = vids.indices.filter(i => i > 0 && vids(i).commentCount.isDefined)
    val comments = (0 until Comments).map { j =>
      val full = j == 0
      Cm(f"C$j%07d", if (full) 0 else open(rng.nextInt(open.length)),
        if (full) Some("alice") else opt(0.05)(s"user${rng.nextInt(500)}"),
        phrase(5), date(2019, 2024))
    }

    // Batch of first delivery. Shares are exact (a shuffled split, not a
    // coin per item) so batch sizes do not vary with the seed; the anchors
    // (index 0) arrive in the backfill.
    val shuffle = new scala.util.Random(rng)
    def split(n: Int, backfill: Double): IndexedSeq[Int] = {
      val rest = shuffle.shuffle((1 until n).toIndexedSeq).drop(((n - 1) * backfill).toInt)
      val b = Array.fill(n)(0)
      rest.zipWithIndex.foreach { case (i, k) => b(i) = 1 + k % (Batches - 1) }
      b.toIndexedSeq
    }
    def sample[T](xs: Seq[T], share: Double): Seq[T] =
      shuffle.shuffle(xs).take((xs.length * share).toInt)
    val vBatch = split(Videos, 0.55)
    val pBatch = split(playlists.length, 0.7)
    // a fifth of the comments arrive one batch after their video
    val late = split(Comments, 0.8)
    val cBatch = comments.indices.map(j =>
      (vBatch(comments(j).video) + (if (late(j) > 0) 1 else 0)) min (Batches - 1))
    val commentsOf = comments.indices.groupBy(j => comments(j).video)

    val seenV = mutable.LinkedHashSet.empty[Int]
    val seenC = mutable.LinkedHashSet.empty[Int]
    val seenP = mutable.LinkedHashSet.empty[Int]
    val seenCh = mutable.LinkedHashSet.empty[Int]
    var lakeRows = 0L
    var landingBytes = 0L
    val batches = (0 until Batches).map { b =>
      val repolledV = sample(seenV.toSeq, Repoll)
      val cs = (comments.indices.filter(j => cBatch(j) == b) ++
        repolledV.flatMap(v => commentsOf.getOrElse(v, Nil).filter(seenC.contains)) :+ 0).distinct.sorted
      val vs = (vids.indices.filter(vBatch(_) == b) ++ repolledV ++
        cs.map(comments(_).video) :+ 0).distinct.sorted
      val ps = (playlists.indices.filter(pBatch(_) == b) ++
        sample(seenP.toSeq, Repoll) :+ 0).distinct.sorted
      val chs = (if (b == 0) chans.indices
        else (vs.map(vids(_).channel) ++ ps.map(playlists(_).channel) :+ 0).distinct.sorted)
      val bdir = s"$dir/landing/b$b"
      landingBytes += Files.write(s"$bdir/channels.json",
        pages("youtube#channelListResponse", chs.map(i => chanJson(chans(i)))))
      landingBytes += Files.write(s"$bdir/playlists.json",
        pages("youtube#playlistListResponse", ps.map(i => plJson(playlists(i), chans))))
      landingBytes += Files.write(s"$bdir/videos.json",
        pages("youtube#videoListResponse", vs.map(i => vidJson(vids(i), chans))))
      landingBytes += Files.write(s"$bdir/comments.json",
        pages("youtube#commentThreadListResponse", cs.map(j => cmJson(comments(j), vids))))
      val fresh = Map(
        "channel" -> chs.count(!seenCh.contains(_)).toLong,
        "playlist" -> ps.count(!seenP.contains(_)).toLong,
        "video" -> vs.count(!seenV.contains(_)).toLong,
        "comment" -> cs.count(!seenC.contains(_)).toLong)
      seenCh ++= chs; seenP ++= ps; seenV ++= vs; seenC ++= cs
      val items = (chs.length + ps.length + vs.length + cs.length).toLong
      lakeRows += items
      Batch(bdir, items, fresh, lakeRows,
        reference(seenCh.toSeq.map(chans), seenV.toSeq.map(vids), chans),
        Map("channel" -> seenCh.size.toLong, "playlist" -> seenP.size.toLong,
          "video" -> seenV.size.toLong, "comment" -> seenC.size.toLong))
    }
    Inputs(batches, landingBytes)
  }

  // --- API-response JSON, one landing file per entity per batch ----------

  private def pages(kind: String, items: Seq[String]): String =
    items.grouped(PageSize).zipWithIndex.map { case (page, i) =>
      val next = if ((i + 1) * PageSize < items.length) s""""nextPageToken": "P${i + 1}", """ else ""
      s"""{"kind": "$kind", $next"items": [\n${page.mkString(",\n")}\n]}"""
    }.mkString("[\n", ",\n", "\n]\n")

  private def field(k: String, v: Option[String]): Option[String] =
    v.map(x => s"${Json.str(k)}: $x")
  private def obj(fs: Option[String]*): String = fs.flatten.mkString("{", ", ", "}")
  private def s(v: String) = Some(Json.str(v))
  /** A counter as the API sends it (a string); a missing one is absent or
    * null, alternating by id so both shapes occur. */
  private def counter(k: String, v: Option[Long], id: String): Option[String] = v match {
    case Some(x) => field(k, s(x.toString))
    case None => if (id.hashCode % 2 == 0) None else field(k, Some("null"))
  }

  private def chanJson(c: Chan): String = obj(
    field("kind", s("youtube#channel")), field("id", s(c.id)),
    field("snippet", Some(obj(field("title", s(c.title)),
      field("publishedAt", s(c.published)), field("country", c.country.map(Json.str))))),
    field("contentDetails", Some(obj(field("relatedPlaylists",
      Some(obj(field("uploads", s("UU" + c.id.drop(2))))))))),
    field("statistics", Some(obj(counter("viewCount", c.views, c.id),
      counter("subscriberCount", c.subs, c.id), counter("videoCount", c.uploads, c.id)))),
    field("status", Some(obj(field("privacyStatus", c.status.map(Json.str))))))

  private def plJson(p: Pl, chans: IndexedSeq[Chan]): String = obj(
    field("kind", s("youtube#playlist")), field("id", s(p.id)),
    field("snippet", Some(obj(field("channelId", s(chans(p.channel).id)),
      field("title", p.title.map(Json.str))))))

  private def vidJson(v: Vid, chans: IndexedSeq[Chan]): String = {
    val thumbs = v.thumb.map(u => obj(field("default", Some(obj(field("url", s(u)))))))
    val snippet = obj(field("channelId", s(chans(v.channel).id)),
      field("channelTitle", s(chans(v.channel).title)), field("title", v.title.map(Json.str)),
      field("description", v.desc.map(Json.str)), field("publishedAt", s(v.published)),
      field("tags", v.tags.map(_.map(Json.str).mkString("[", ", ", "]"))),
      field("thumbnails", thumbs))
    val details = obj(field("duration", v.duration.map(Json.str)),
      field("definition", s(v.definition)), field("caption", s(v.caption)))
    val stats = obj(counter("viewCount", v.views, v.id),
      counter("likeCount", v.likes, v.id), field("favoriteCount", s("0")),
      v.commentCount.flatMap(n => field("commentCount", s(n.toString))))
    obj(field("kind", s("youtube#video")), field("id", s(v.id)),
      field("snippet", Some(snippet)), field("contentDetails", Some(details)),
      field("statistics", Some(stats)))
  }

  private def cmJson(c: Cm, vids: IndexedSeq[Vid]): String = {
    val inner = obj(field("videoId", s(vids(c.video).id)),
      field("authorDisplayName", c.author.map(Json.str)),
      field("textDisplay", s(c.text)), field("publishedAt", s(c.published)))
    val top = obj(field("snippet", Some(inner)))
    obj(field("kind", s("youtube#commentThread")), field("id", s(c.id)),
      field("snippet", Some(obj(field("topLevelComment", Some(top))))))
  }

  // --- Q1–Q10 in plain Scala over the delivered records --------------------

  /** Queries whose ORDER BY is total, so the row order must match too. */
  private val ordered = Set(2, 3, 4, 6, 7, 9, 10)

  private def reference(chs: Seq[Chan], vs: Seq[Vid], chans: IndexedSeq[Chan]): IndexedSeq[Seq[Seq[Any]]] = {
    val na = "N/A"
    final case class V(ch: String, chId: Int, id: String, title: String, dur: Long,
        year: Int, views: Long, likes: Long, cc: Long)
    val wv = vs.map(v => V(chans(v.channel).title, v.channel, v.id, v.title.getOrElse(na),
      v.durationS, v.published.take(4).toInt, v.views.getOrElse(0L), v.likes.getOrElse(0L),
      v.commentCount.getOrElse(0L)))
    val maxLikes = wv.groupBy(_.chId).map { case (c, xs) => c -> xs.map(_.likes).max }
    IndexedSeq(
      chs.map(c => Seq(c.title)),
      chs.sortBy(c => (-c.uploads.getOrElse(0L), c.title)).map(c => Seq(c.title, c.uploads.getOrElse(0L))),
      wv.sortBy(v => (-v.views, v.id)).take(10).map(v => Seq(v.ch, v.title, v.views)),
      wv.sortBy(v => (-v.cc, v.id)).map(v => Seq(v.ch, v.title, v.cc)),
      wv.filter(v => v.likes == maxLikes(v.chId)).sortBy(v => (-v.likes, v.title))
        .map(v => Seq(v.ch, v.title, v.likes)),
      wv.sortBy(v => (-v.likes, v.id)).take(10).map(v => Seq(v.ch, v.title, v.likes)),
      chs.sortBy(c => (-c.views.getOrElse(0L), c.title)).map(c => Seq(c.title, c.views.getOrElse(0L))),
      wv.filter(_.year == 2022).map(_.ch).distinct.map(Seq(_)),
      wv.groupBy(_.ch).toSeq.map { case (c, xs) => (c, xs.map(_.dur).sum.toDouble / xs.length) }
        .sortBy { case (c, avg) => (-avg, c) }.map { case (c, avg) => Seq(c, avg) },
      wv.sortBy(v => (-v.cc, v.id)).take(10).map(v => Seq(v.ch, v.title, v.cc)))
  }

  private def key(r: Seq[Any]): String = r.mkString("\u0001")

  /** Spark's rows equal the reference: as a multiset always, in order where
    * the query's order is total; Q5 (ties survive) must be sorted by its
    * ORDER BY keys. */
  private def matches(q: Int, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    val sameSet = got.map(key).sorted == want.map(key).sorted
    val sameOrder = !ordered(q) || got.map(key) == want.map(key)
    val q5Sorted = q != 5 || got.map(r => (-r(2).asInstanceOf[Long], r(1).asInstanceOf[String]))
      .sliding(2).forall {
        case Seq(a, b) => Ordering[(Long, String)].lteq(a, b)
        case _ => true
      }
    sameSet && sameOrder && q5Sorted
  }

  /** The backfill batch. */
  def warmup(spark: SparkSession, in: Inputs, dir: String): Unit =
    batches(spark, in.batches.take(1), dir, new Tracer(spark, enabled = false), new Recorder)

  def iteration(spark: SparkSession, in: Inputs, dir: String, tr: Tracer,
      rec: Recorder, replay: Boolean): Unit = {
    val (lake, wh) = batches(spark, in.batches, dir, tr, rec)
    val last = in.batches.last
    val counts = last.tableRows.keys.map(t =>
      t -> AtomicCommit.snapshot(spark, wh, t).fold(0L)(_.count())).toMap
    rec.check(counts == last.tableRows, s"warehouse rows $counts, expected distinct ids ${last.tableRows}")
    tr.count("ingest.lake_files_written", Files.walk(lake).count(_.getName.endsWith(".parquet")).toDouble)
    rec.storageAmp += (Files.du(lake) + Files.du(wh)).toDouble / in.landingBytes
  }

  /** Commit and refresh each batch in turn; returns the lake and warehouse
    * paths. */
  private def batches(spark: SparkSession, bs: Seq[Batch], dir: String, tr: Tracer,
      rec: Recorder): (String, String) = {
    val lake = s"$dir/lake"
    val wh = s"$dir/warehouse"
    bs.zipWithIndex.foreach { case (b, i) =>
      val fresh = rec.time("write") {
        tr.span("ingest") {
          val src = new FixtureChannelSource(b.dir)
          Lake.write(Lake.buildDocuments(src.channels(spark), src.playlists(spark),
            src.videos(spark), src.comments(spark)), lake)
        }
        tr.span("warehouse")(AtomicCommit.migrateAtomic(spark, lake, wh))
      }
      rec.records += b.items
      rec.check(fresh == b.fresh, s"batch $i committed $fresh, expected ${b.fresh}")
      tr.count("ingest.rows_parsed", b.items.toDouble)
      tr.count("warehouse.batch_rows", b.lakeRows.toDouble)
      tr.count("warehouse.fresh_rows", fresh.values.sum.toDouble)
      if (tr.enabled)
        tr.set("warehouse.segments", AtomicCommit.readManifest(spark, wh)._2.values.map(_.size).sum.toDouble)

      val results = rec.time("read") {
        tr.span("warehouse")(AtomicCommit.registerViews(spark, wh))
        tr.span("queries") {
          AnalyticsQueries.all.map { case (_, q, _) => q(spark).collect().toSeq.map(_.toSeq) }
        }
      }
      val bad = results.indices.filterNot(q => matches(q + 1, results(q), b.expected(q)))
      rec.check(bad.isEmpty, s"batch $i: ${bad.map(q => s"q${q + 1}").mkString(",")} differ from the reference")
    }
    (lake, wh)
  }

  override def derive(tr: Tracer, m: mutable.LinkedHashMap[String, Double]): Unit =
    m("warehouse.fresh_frac") =
      tr.counter("warehouse.fresh_rows") / tr.counter("warehouse.batch_rows").max(1.0)
}
