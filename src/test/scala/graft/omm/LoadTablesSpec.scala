package graft.omm

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkJobs, SparkSpec}
import graft.omm.{CancellationPipeline => P, OmmFixtures => F}

/** The load contract: `loadTables` reads the 11 tables with the schemas
  * `OmmSchemas` declares, without a Spark job, and refuses data that does
  * not carry them instead of reading the gap as NULL. */
class LoadTablesSpec extends SparkSpec {

  test("OmmSchemas declare what Spark infers from the fixture tables") {
    F.ensure(spark)
    OmmSchemas.tables.foreach { case (table, declared) =>
      val inferred = spark.read.parquet(F.path(table)).schema
      assert(inferred.map(f => f.name -> f.dataType) ===
        declared.map(f => f.name -> f.dataType), table)
    }
  }

  test("loadTables reads the declared schemas and submits no Spark job") {
    F.ensure(spark)
    val (t, jobs) = SparkJobs.count(spark)(P.loadTables(spark, F.dir))
    assert(jobs === 0)
    t.productIterator.toSeq.zip(OmmSchemas.tables).foreach {
      case (df: DataFrame, (table, declared)) =>
        // file sources read every column as nullable
        assert(df.schema === StructType(declared.map(_.copy(nullable = true))),
          table)
      case other => fail(s"unexpected $other")
    }
  }

  /** A copy of the fixture tables with `table` replaced by `edit` of it. */
  private def fixtureCopy(table: String)(edit: DataFrame => DataFrame): String = {
    F.ensure(spark)
    val dir = Files.createTempDirectory("ommcopy")
    OmmSchemas.tables.map(_._1).filter(_ != table).foreach { t =>
      copyTree(Paths.get(F.path(t)), dir.resolve(s"$t.parquet"))
    }
    edit(spark.read.parquet(F.path(table)))
      .write.parquet(dir.resolve(s"$table.parquet").toString)
    dir.toString
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach(f => Files.copy(f, dst.resolve(src.relativize(f).toString)))
    finally s.close()
  }

  private def loadError(dir: String): String =
    intercept[IllegalStateException](P.loadTables(spark, dir)).getMessage

  test("a table missing a declared column fails, naming table and column") {
    val msg = loadError(fixtureCopy("affected_departures")(_.drop("status")))
    assert(msg.contains("affected_departures") && msg.contains("column status"), msg)
  }

  test("a column of another type fails, naming table, column and types") {
    val msg = loadError(fixtureCopy("ObjectType")(
      _.withColumn("Number", col("Number").cast("long"))))
    assert(msg.contains("ObjectType") && msg.contains("column Number is bigint") &&
      msg.contains("declared int"), msg)
  }

  test("a table directory without a data file fails, naming the table") {
    val dir = fixtureCopy("KeyType")(_.limit(0))
    // keep only the _SUCCESS marker: a pinned read of this would be empty
    Files.list(Paths.get(s"$dir/KeyType.parquet")).toArray
      .map(_.asInstanceOf[Path])
      .filterNot(_.getFileName.toString.startsWith("_"))
      .foreach(Files.delete)
    val msg = loadError(dir)
    assert(msg.contains("KeyType") && msg.contains("no data file"), msg)
  }
}
