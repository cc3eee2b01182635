package graft.ingest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.Durations
import graft.model.Schemas

/** Landing-zone parsers: captured YouTube-API-response-shaped JSON →
  * per-entity DataFrames, replicating the reference's extract projections
  * (S1–S4, /root/reference/app.py:23–191) as declarative nested-field
  * selects instead of per-row dict access.
  *
  * Deliberate departures from the reference, per SURVEY §7.4: pagination is
  * flattened ahead of time (every page is just another JSON document in the
  * landing directory — no N+1 loop, no first-page truncation), and a
  * comments-disabled video simply contributes zero comment rows instead of
  * aborting the extract.
  *
  * Each file is read with its declared schema (`Schemas.landing*`), which
  * covers exactly the fields the parser selects: no schema-inference job
  * runs, and a batch in which no item carries an optional field (`country`,
  * `tags`, or `commentCount` when every video has comments disabled) parses
  * that field to null instead of failing analysis.
  *
  * Scale posture: each parser is scan → explode → project; Spark
  * parallelizes over landing files, and nothing touches the driver.
  */
object Landing {

  private def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", true).json(path)

  /** `int(x)`-style counter cast (app.py:36–38,138,140–141): string counters
    * → long, absent/null-safe. */
  private def counter(c: Column): Column = c.cast("long")

  /** S1 — channel snippet/stats/status projection (app.py:32–41). */
  def channels(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path, Schemas.landingChannels)
      .select(explode(col("items")).as("it"))
      .select(
        col("it.snippet.title").as("channel_name"),
        col("it.id").as("channel_id"),
        col("it.contentDetails.relatedPlaylists.uploads").as("channel_playlist_id"),
        col("it.snippet.country").as("country"),
        counter(col("it.statistics.viewCount")).as("channel_views"),
        counter(col("it.statistics.subscriberCount")).as("subscription"),
        counter(col("it.statistics.videoCount")).as("channel_uploads"),
        to_timestamp(col("it.snippet.publishedAt")).as("channel_age"),
        col("it.status.privacyStatus").as("channel_status"))

  /** S2 — playlist pages (app.py:60–63); pagination = many landing docs. */
  def playlists(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path, Schemas.landingPlaylists)
      .select(explode(col("items")).as("it"))
      .select(
        col("it.snippet.channelId").as("channel_id"),
        col("it.id").as("playlist_id"),
        col("it.snippet.title").as("playlist_name"))

  /** S3 — video details (app.py:128–144), including the ISO-8601 duration
    * parse (S7) and hd/sd quality flag. */
  def videos(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path, Schemas.landingVideos)
      .select(explode(col("items")).as("it"))
      .select(
        col("it.snippet.channelTitle").as("channel_name"),
        col("it.snippet.channelId").as("channel_id"),
        col("it.id").as("video_id"),
        col("it.snippet.title").as("video_title"),
        Durations.parseIso8601Duration(col("it.contentDetails.duration")).as("duration"),
        to_timestamp(col("it.snippet.publishedAt")).as("release_date"),
        col("it.snippet.tags").as("tags"),
        col("it.snippet.thumbnails.default.url").as("thumbnail"),
        col("it.contentDetails.definition").as("video_quality"),
        counter(col("it.statistics.viewCount")).as("views"),
        counter(col("it.statistics.likeCount")).as("likes"),
        counter(col("it.statistics.favoriteCount")).as("favorite"),
        coalesce(counter(col("it.statistics.commentCount")), lit(0L)).as("comment_count"),
        col("it.snippet.description").as("description"),
        col("it.contentDetails.caption").as("caption_status"))

  /** S4 — top-level comment threads (app.py:184–189; 5-deep nested path). */
  def comments(spark: SparkSession, path: String): DataFrame =
    readJson(spark, path, Schemas.landingComments)
      .select(explode(col("items")).as("it"))
      .select(
        col("it.snippet.topLevelComment.snippet.videoId").as("video_id"),
        col("it.id").as("comment_id"),
        col("it.snippet.topLevelComment.snippet.authorDisplayName").as("author_name"),
        col("it.snippet.topLevelComment.snippet.textDisplay").as("comments"),
        to_timestamp(col("it.snippet.topLevelComment.snippet.publishedAt"))
          .as("commented_date"))
}
