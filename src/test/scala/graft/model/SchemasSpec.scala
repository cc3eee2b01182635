package graft.model

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ingest.{Lake, Landing}
import graft.warehouse.AtomicCommit

/** Drift guard for the declared schemas every read on the ELT path uses
  * instead of inference: each must name the fields and types Spark would
  * infer from the data it reads. Nullability is not compared. */
class SchemasSpec extends SparkSpec {

  /** `t` with every nullability flag set, so types compare by shape. */
  private def shape(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case ArrayType(e, _) => ArrayType(shape(e), containsNull = true)
    case MapType(k, v, _) => MapType(shape(k), shape(v), valueContainsNull = true)
    case other => other
  }

  /** `inferred` cut down, at every struct level, to the fields `declared`
    * names; inferred field order is kept. */
  private def project(inferred: DataType, declared: DataType): DataType =
    (inferred, declared) match {
      case (i: StructType, d: StructType) => StructType(i.fields
        .filter(f => d.fieldNames.contains(f.name))
        .map(f => f.copy(dataType = project(f.dataType, d(f.name).dataType))))
      case (ArrayType(i, n), ArrayType(d, _)) => ArrayType(project(i, d), n)
      case (i, _) => i
    }

  private lazy val root = Files.createTempDirectory("graft-schemas").toString
  private lazy val lakePath = {
    val p = s"$root/lake"
    Lake.write(Lake.buildDocuments(
      Landing.channels(spark, resource("landing/channels.json")),
      Landing.playlists(spark, resource("landing/playlists.json")),
      Landing.videos(spark, resource("landing/videos.json")),
      Landing.comments(spark, resource("landing/comments.json"))), p)
    p
  }

  test("declared landing schemas match the schema inferred from the fixtures, " +
      "projected to the parsed fields") {
    Seq("channels" -> Schemas.landingChannels, "playlists" -> Schemas.landingPlaylists,
        "videos" -> Schemas.landingVideos, "comments" -> Schemas.landingComments)
      .foreach { case (f, declared) =>
        val inferred = spark.read.option("multiLine", true)
          .json(resource(s"landing/$f.json")).schema
        assert(shape(project(inferred, declared)) == shape(declared), f)
      }
  }

  test("lakeDocSchema matches the schema inferred from the lake Lake.write leaves") {
    val inferred = spark.read.parquet(lakePath).schema
    def byName(s: StructType) = s.fields.map(f => f.name -> shape(f.dataType)).toMap
    assert(inferred.length == Schemas.lakeDocSchema.length)
    assert(byName(inferred) == byName(Schemas.lakeDocSchema))
  }

  test("warehouseSchemas equal the inferred schema of each committed table, " +
      "column order included") {
    val wh = s"$root/wh"
    AtomicCommit.migrateAtomic(spark, lakePath, wh)
    Schemas.warehouseSchemas.foreach { case (t, declared) =>
      val inferred = AtomicCommit.snapshot(spark, wh, t).get.schema
      assert(shape(inferred) == shape(declared), t)
    }
  }
}
