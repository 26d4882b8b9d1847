package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.catalog.GraftCatalog
import graft.engine.{GraftTable, ManifestFileIndex}
import graft.tableformat.MetadataIO

/** Graft reads plan their parquet scans from the manifest: every
  * relation is a [[ManifestFileIndex]], never a listing, and the index
  * reports the same file paths and sizes a listing would.
  */
class ManifestFileIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("local[2]", Some(2))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-mfi").toString

  private def indexesOf(df: DataFrame) =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("engine reads and native SQL scans hold no InMemoryFileIndex") {
    import spark.implicits._
    val cat = new GraftCatalog(spark, tmp())
    spark.conf.set("spark.graft.warehouse", cat.warehouse)
    val t = cat.createTable("db", "mfi", Seq("id" -> "long", "v" -> "string"),
      Seq("id" -> "bucket(2)"), Map("write.delete.mode" -> "merge-on-read"))
    t.append((0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val first = t.meta.currentSnapshotId.get
    t.append((40 until 60).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    t.delete(col("id") === 3L)
    Seq(
      "read()" -> t.read(),
      "readAsOfVersion" -> t.readAsOfVersion(first),
      "readWhere" -> t.readWhere(col("id") >= 10L),
      "position_deletes" -> t.positionDeletesDf,
      "SQL" -> spark.sql("SELECT * FROM graft.db.mfi WHERE v <> 'x'")
    ).foreach { case (api, df) =>
      val ix = indexesOf(df)
      assert(ix.nonEmpty, s"$api: no file relation")
      assert(ix.forall(_.isInstanceOf[ManifestFileIndex]),
        s"$api: ${ix.map(_.getClass.getSimpleName)}")
      assert(!ix.exists(_.isInstanceOf[InMemoryFileIndex]))
    }
    assert(t.read().count() == 59L)
  }

  test("file paths, sizes and rows match a listing, under a space and " +
      "an escaped partition value") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp() + "/a table dir", "esc",
      Seq("id" -> "long", "cat" -> "string"), Seq("cat" -> "identity"))
    t.append(Seq((1L, "c:d"), (2L, "c%e"), (3L, "plain f"))
      .toDF("id", "cat"))
    val m = t.meta
    val files = m.currentSnapshot.get.files
    val abs = files.map(f => s"${t.location}/${f.path}")
    val schema = m.currentSchema.toStructType
    val listed = spark.read.schema(schema).parquet(abs: _*)
    val manifest = org.apache.spark.sql.graftshim.parquetRelation(spark,
      ManifestFileIndex(spark.sessionState.newHadoopConf(), files,
        p => s"${t.location}/$p", Map.empty, (fs, _) => fs), schema)
    def paths(df: DataFrame) =
      df.select(col("_metadata.file_path"), col("_metadata.file_size"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(paths(manifest) == paths(listed))
    assert(manifest.queryExecution.optimizedPlan.stats.sizeInBytes ==
      listed.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(manifest.inputFiles.sorted.toSeq == listed.inputFiles.sorted.toSeq)
    assert(rowsOf(manifest) == rowsOf(listed))
    assert(rowsOf(t.read()) == rowsOf(listed.select("id", "cat")))
  }

  test("a legacy entry recorded without its size still reads its rows") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "legacy",
      Seq("id" -> "long", "v" -> "string"))
    t.append((0 until 30).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1))
    t.append((30 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1))
    val before = rowsOf(t.read())
    val beforeHigh = rowsOf(t.read().filter(col("id") >= 40L))
    val sized = t.read().queryExecution.optimizedPlan.stats.sizeInBytes
    MetadataIO.commitRetry(t.location) { cur =>
      val s = cur.currentSnapshot.get
      val legacy = s.copy(snapshotId = s.snapshotId + 1,
        parentId = Some(s.snapshotId), timestampMs = s.timestampMs + 1,
        inlineFiles = s.files.map(_.copy(fileSizeBytes = 0L)),
        inlineDeleteFiles = s.deleteFiles, manifestList = None)
      cur.copy(snapshots = cur.snapshots :+ legacy,
        currentSnapshotId = Some(legacy.snapshotId))
    }
    assert(t.meta.currentSnapshot.get.files.forall(_.fileSizeBytes == 0L))
    assert(rowsOf(t.read()) == before)
    assert(rowsOf(t.readWhere(col("id") >= 40L)) == beforeHigh)
    // the one stat a size-less entry pays restores the listed size
    assert(t.read().queryExecution.optimizedPlan.stats.sizeInBytes == sized)
  }
}
