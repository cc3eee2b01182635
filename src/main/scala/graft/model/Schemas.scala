package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** The reference's logical data model (SURVEY §1.2; /root/reference/app.py:
  * 32–41, 60–63, 128–144, 184–189) as typed case classes plus explicit
  * `StructType`s for each zone.
  *
  * Zones: landing (captured API-response JSON, read with the declared
  * `landing*` schemas below), lake (one nested document per channel,
  * app.py:237–242), warehouse (four flat tables, INSERT lists at
  * app.py:300–305,322–327,354–358,372–376). The ELT commit path (landing
  * parse, `AtomicCommit.migrateAtomic`, `AtomicCommit.registerViews`)
  * reads every zone with its declared schema and runs no schema-inference
  * job.
  */
object Schemas {

  final case class Channel(
      channel_name: String,
      channel_id: String,
      channel_playlist_id: String,
      country: Option[String],
      channel_views: Long,
      subscription: Long,
      channel_uploads: Long,
      channel_age: Timestamp,
      channel_status: String)

  final case class Playlist(
      channel_id: String,
      playlist_id: String,
      playlist_name: String)

  final case class Video(
      channel_name: String,
      channel_id: String,
      video_id: String,
      video_title: String,
      duration: Long,
      release_date: Timestamp,
      tags: Option[Seq[String]],
      thumbnail: String,
      video_quality: String,
      views: Long,
      likes: Option[Long],
      favorite: Long,
      comment_count: Long,
      description: String,
      caption_status: String)

  final case class Comment(
      video_id: String,
      comment_id: String,
      author_name: String,
      comments: String,
      commented_date: Timestamp)

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** One API response document: a page of `items`. */
  private def page(item: (String, DataType)*): StructType =
    struct("items" -> ArrayType(struct(item: _*)))

  /* Landing zone: API-response JSON as the YouTube Data API returns it,
   * declared down to exactly the fields the `graft.ingest.Landing`
   * parsers select (fields in the alphabetical order JSON inference gives).
   * Counters stay strings, as the API sends them. A field no item of a
   * batch carries reads as null instead of failing analysis. */

  val landingChannels: StructType = page(
    "contentDetails" -> struct("relatedPlaylists" -> struct("uploads" -> StringType)),
    "id" -> StringType,
    "snippet" -> struct(
      "country" -> StringType, "publishedAt" -> StringType, "title" -> StringType),
    "statistics" -> struct("subscriberCount" -> StringType,
      "videoCount" -> StringType, "viewCount" -> StringType),
    "status" -> struct("privacyStatus" -> StringType))

  val landingPlaylists: StructType = page(
    "id" -> StringType,
    "snippet" -> struct("channelId" -> StringType, "title" -> StringType))

  val landingVideos: StructType = page(
    "contentDetails" -> struct("caption" -> StringType,
      "definition" -> StringType, "duration" -> StringType),
    "id" -> StringType,
    "snippet" -> struct(
      "channelId" -> StringType, "channelTitle" -> StringType,
      "description" -> StringType, "publishedAt" -> StringType,
      "tags" -> ArrayType(StringType),
      "thumbnails" -> struct("default" -> struct("url" -> StringType)),
      "title" -> StringType),
    "statistics" -> struct("commentCount" -> StringType,
      "favoriteCount" -> StringType, "likeCount" -> StringType,
      "viewCount" -> StringType))

  val landingComments: StructType = page(
    "id" -> StringType,
    "snippet" -> struct("topLevelComment" -> struct("snippet" -> struct(
      "authorDisplayName" -> StringType, "publishedAt" -> StringType,
      "textDisplay" -> StringType, "videoId" -> StringType))))

  val channelSchema: StructType = StructType(Seq(
    StructField("channel_name", StringType),
    StructField("channel_id", StringType),
    StructField("channel_playlist_id", StringType),
    StructField("country", StringType),
    StructField("channel_views", LongType),
    StructField("subscription", LongType),
    StructField("channel_uploads", LongType),
    StructField("channel_age", TimestampType),
    StructField("channel_status", StringType)))

  val playlistSchema: StructType = StructType(Seq(
    StructField("channel_id", StringType),
    StructField("playlist_id", StringType),
    StructField("playlist_name", StringType)))

  val videoSchema: StructType = StructType(Seq(
    StructField("channel_name", StringType),
    StructField("channel_id", StringType),
    StructField("video_id", StringType),
    StructField("video_title", StringType),
    StructField("duration", LongType),
    StructField("release_date", TimestampType),
    StructField("tags", ArrayType(StringType)),
    StructField("thumbnail", StringType),
    StructField("video_quality", StringType),
    StructField("views", LongType),
    StructField("likes", LongType),
    StructField("favorite", LongType),
    StructField("comment_count", LongType),
    StructField("description", StringType),
    StructField("caption_status", StringType)))

  val commentSchema: StructType = StructType(Seq(
    StructField("video_id", StringType),
    StructField("comment_id", StringType),
    StructField("author_name", StringType),
    StructField("comments", StringType),
    StructField("commented_date", TimestampType)))

  /** Lake zone: one nested document per channel with four embedded entity
    * arrays (app.py:236–249). `channel_age`/`tags` live here but are dropped
    * at migration, matching the reference (SURVEY §1.2). `channel_name` is
    * the partition column, so a read lists it after the four arrays. */
  val lakeDocSchema: StructType = StructType(Seq(
    StructField("channel_name", StringType),
    StructField("channel_details", ArrayType(channelSchema)),
    StructField("playlist_details", ArrayType(playlistSchema)),
    StructField("video_details", ArrayType(videoSchema)),
    StructField("comment_details", ArrayType(commentSchema))))

  /** Warehouse `channel`: drops channel_age (absent from the INSERT list at
    * app.py:300–305). */
  val warehouseChannelColumns: Seq[String] = Seq(
    "channel_name", "channel_id", "country", "channel_views",
    "subscription", "channel_uploads", "channel_status", "channel_playlist_id")

  /** Warehouse `video`: drops tags (absent from app.py:322–327). */
  val warehouseVideoColumns: Seq[String] = Seq(
    "channel_name", "channel_id", "video_id", "video_title", "duration",
    "release_date", "thumbnail", "video_quality", "views", "likes",
    "favorite", "comment_count", "description", "caption_status")

  private def project(s: StructType, cols: Seq[String]): StructType =
    StructType(cols.map(c => s(s.fieldIndex(c))))

  /** Post-migration warehouse table schemas, in INSERT-list column order
    * (the exact shape [[graft.warehouse.Migration]] writes). View
    * registration reads every committed table with these, and resolves a
    * table that has no committed rows yet as an EMPTY frame with the right
    * columns instead of failing to resolve. */
  val warehouseSchemas: Map[String, StructType] = Map(
    "channel" -> project(channelSchema, warehouseChannelColumns),
    "playlist" -> playlistSchema,
    "video" -> project(videoSchema, warehouseVideoColumns),
    "comment" -> commentSchema)
}
