package graft.sources.excel

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native DataSource V2 Excel connector — `spark.read.format("excel")`.
  *
  * Spark-first re-expression of the reference's Python Data Source
  * (`/root/reference/src/pyspark_datasource/excel/connector.py:52-133`):
  * registration happens via ServiceLoader + [[DataSourceRegister]] instead
  * of `spark.dataSource.register`, schema precedence is the same three-way
  * contract (user schema ▸ inferSchema=false → all strings ▸ infer from the
  * file), and everything below runs in the JVM — no Python worker hops.
  */
class ExcelDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "excel"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ExcelOptions(options)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    // user-supplied schema arrives via getTable; here we must probe.
    // Reference parity: inference needs `path` (connector.py:72-74) and
    // probes the first configured sheet of the (first) file.
    val files = ExcelFiles.list(opts.path, conf, opts.recursiveFileLookup,
      opts.xlsxOnly)
    if (files.isEmpty)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "UNABLE_TO_INFER_SCHEMA",
        messageParameters = Map("format" -> "excel"))
    ExcelSchema.merge(ExcelFiles.probeAll(files.take(opts.inferSampleFiles))(
      ExcelSchema.inferFromFile(_, opts, conf)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ExcelTable(schema, ExcelOptions.fromMap(properties.asScala.toMap))
}
