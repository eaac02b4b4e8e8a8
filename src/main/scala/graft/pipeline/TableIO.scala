package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Storage seam (SURVEY §2b P1/P11): the north star writes Iceberg tables;
  * this sandbox has no Iceberg runtime jars, so the default implementation
  * is parquet-with-identical-semantics behind the same interface. A real
  * deployment swaps in an Iceberg catalog implementation (writeTo /
  * createOrReplace) without touching pipeline code.
  */
trait TableIO extends Serializable {
  def write(df: DataFrame, name: String): Unit
  def append(df: DataFrame, name: String): Unit
  def read(spark: SparkSession, name: String): DataFrame
  def exists(spark: SparkSession, name: String): Boolean
}

/** Catalog-backed TableIO — the Iceberg wiring (P1/P11). Uses only
  * catalog-agnostic DataFrameWriterV2 / spark.table APIs, so pointing
  * `prefix` at an Iceberg catalog (spark.sql.catalog.<name> =
  * org.apache.iceberg.spark.SparkCatalog + warehouse config) is a session
  * config change, not a code change. This sandbox ships no Iceberg jars;
  * tests exercise the identical code path against the built-in session
  * catalog (whose V1 fallback lacks atomic REPLACE TABLE — handled below;
  * Iceberg itself supports createOrReplace natively).
  *
  * Table names: stage paths like "run-0/metrics" map to identifiers by
  * replacing '/' and '-' (not legal in unquoted identifiers). */
final class CatalogTableIO(prefix: String) extends TableIO {
  private def tbl(name: String): String =
    prefix + "." + name.replace('/', '_').replace('-', '_')

  override def write(df: DataFrame, name: String): Unit = {
    val t = tbl(name)
    try df.writeTo(t).using("parquet").createOrReplace()
    catch {
      case _: UnsupportedOperationException | _: org.apache.spark.sql.AnalysisException =>
        // non-atomic catalogs (the built-in session catalog) can't REPLACE
        // TABLE; the V1 writer handles overwrite + managed locations there
        df.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(t)
    }
  }

  override def append(df: DataFrame, name: String): Unit = {
    val t = tbl(name)
    if (exists(df.sparkSession, name)) {
      try df.writeTo(t).append()
      catch { // V1 session-catalog tables reject the V2 write path
        case _: org.apache.spark.sql.AnalysisException =>
          df.write.format("parquet").mode(SaveMode.Append).saveAsTable(t)
      }
    } else {
      try df.writeTo(t).using("parquet").create()
      catch {
        case _: UnsupportedOperationException | _: org.apache.spark.sql.AnalysisException =>
          df.write.format("parquet").mode(SaveMode.ErrorIfExists).saveAsTable(t)
      }
    }
  }

  override def read(spark: SparkSession, name: String): DataFrame =
    spark.table(tbl(name))

  override def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(tbl(name))
}

/** Parquet directories under `root`. A table this instance wrote is read
  * back with the schema it was written with: parquet schema inference is a
  * Spark job of its own, and the checkpointed pipeline reads every stage
  * back right after writing it. An append forgets the table's schema, so a
  * table grown by appends is inferred from its files again. */
final class ParquetTableIO(root: String) extends TableIO {
  private def path(name: String) = s"$root/$name"
  private val written = new ConcurrentHashMap[String, StructType]()

  override def write(df: DataFrame, name: String): Unit = {
    written.remove(name)
    df.write.mode(SaveMode.Overwrite).parquet(path(name))
    written.put(name, df.schema)
  }

  override def append(df: DataFrame, name: String): Unit = {
    written.remove(name)
    df.write.mode(SaveMode.Append).parquet(path(name))
  }

  override def read(spark: SparkSession, name: String): DataFrame =
    Option(written.get(name)).fold(spark.read)(spark.read.schema(_)).parquet(path(name))

  override def exists(spark: SparkSession, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(name), "_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
