package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.warehouse.AtomicCommit

/** A batch in which no item carries an optional API field still parses:
  * the declared landing schema reads the field as null, and the migration
  * defaults apply downstream. */
class LandingSpec extends SparkSpec {

  /** One landing batch — one channel, playlist, video and comment — with
    * the optional fields in `omit` left out of every item. */
  private def batch(omit: Set[String]): String = {
    val dir = Files.createTempDirectory("graft-landing")
    def f(k: String, v: String): Option[String] =
      if (omit(k)) None else Some(s""""$k": $v""")
    def obj(fs: Option[String]*): String = fs.flatten.mkString("{", ", ", "}")
    def write(name: String, item: String): Unit =
      Files.write(dir.resolve(name), s"""[{"kind": "page", "items": [$item]}]""".getBytes("UTF-8"))
    write("channels.json", obj(f("id", "\"UC1\""),
      f("snippet", obj(f("title", "\"One\""), f("publishedAt", "\"2020-01-01T00:00:00Z\""),
        f("country", "\"US\""))),
      f("contentDetails", obj(f("relatedPlaylists", obj(f("uploads", "\"UU1\""))))),
      f("statistics", obj(f("viewCount", "\"10\""), f("subscriberCount", "\"2\""),
        f("videoCount", "\"1\""))),
      f("status", obj(f("privacyStatus", "\"public\"")))))
    write("playlists.json", obj(f("id", "\"PL1\""),
      f("snippet", obj(f("channelId", "\"UC1\""), f("title", "\"Best\"")))))
    write("videos.json", obj(f("id", "\"V1\""),
      f("snippet", obj(f("channelId", "\"UC1\""), f("channelTitle", "\"One\""),
        f("title", "\"Hello\""), f("description", "\"d\""),
        f("publishedAt", "\"2022-03-01T15:30:00Z\""), f("tags", "[\"a\", \"b\"]"),
        f("thumbnails", obj(f("default", obj(f("url", "\"u\""))))))),
      f("contentDetails", obj(f("duration", "\"PT1M2S\""), f("definition", "\"hd\""),
        f("caption", "\"false\""))),
      f("statistics", obj(f("viewCount", "\"100\""), f("likeCount", "\"7\""),
        f("favoriteCount", "\"0\""), f("commentCount", "\"1\"")))))
    write("comments.json", obj(f("id", "\"C1\""),
      f("snippet", obj(f("topLevelComment", obj(f("snippet", obj(
        f("videoId", "\"V1\""), f("authorDisplayName", "\"alice\""),
        f("textDisplay", "\"hi\""), f("publishedAt", "\"2022-03-02T10:00:00Z\"")))))))))
    dir.toString
  }

  /** One edge: the API field no item carries, the landing frame and column
    * it parses into with the value there, and the warehouse table and
    * column with the value once migrated. */
  private case class Edge(field: String, parse: ChannelSource => DataFrame,
      column: String, parsed: Any, table: String, whColumn: String, migrated: Any)

  private val edges = Seq(
    Edge("country", _.channels(spark), "country", null, "channel", "country", "N/A"),
    // tags are dropped at migration: the video row still lands
    Edge("tags", _.videos(spark), "tags", null, "video", "video_id", "V1"),
    // every video of the batch has comments disabled
    Edge("commentCount", _.videos(spark), "comment_count", 0L, "video", "comment_count", 0L),
    Edge("likeCount", _.videos(spark), "likes", null, "video", "likes", 0L))

  edges.foreach { e =>
    test(s"a batch with no ${e.field} parses it as ${e.parsed}; migration gives ${e.migrated}") {
      val landing = batch(Set(e.field))
      val src = new FixtureChannelSource(landing)
      assert(e.parse(src).select(e.column).collect().map(_.get(0)).toSeq == Seq(e.parsed))
      val lake = s"$landing/lake"
      Lake.write(Lake.buildDocuments(src.channels(spark), src.playlists(spark),
        src.videos(spark), src.comments(spark)), lake)
      assert(AtomicCommit.migrateAtomic(spark, lake, s"$landing/wh") ==
        Map("channel" -> 1L, "playlist" -> 1L, "video" -> 1L, "comment" -> 1L))
      val got = AtomicCommit.snapshot(spark, s"$landing/wh", e.table).get.select(e.whColumn)
      assert(got.collect().map(_.get(0)).toSeq == Seq(e.migrated))
    }
  }
}
