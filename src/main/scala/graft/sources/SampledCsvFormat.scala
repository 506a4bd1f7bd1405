package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's CSV reader for a schema typed from a sample
  * ([[PathTable.read]]), run FAILFAST. When a value does not fit its
  * sampled type, the error names the file and says the sample
  * under-typed a column, keeping Spark's malformed-record error as its
  * cause ([[PathTable.isCsvSampleMisfit]] still matches it). Everything
  * else, pruning and filter pushdown included, is Spark's.
  */
class SampledCsvFormat extends CSVFileFormat {

  override def buildReader(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val read = super.buildReader(spark, dataSchema, partitionSchema, requiredSchema,
      filters, options, hadoopConf)
    val sampled = dataSchema.toDDL
    file => {
      val rows = read(file)
      def guard[T](f: => T): T =
        try f catch {
          case e: Throwable if PathTable.isCsvSampleMisfit(e) =>
            throw new SparkException(
              s"CSV file ${file.toPath}: its first ${PathTable.CsvSampleRows} rows " +
                s"under-typed a column; a later value does not fit the sampled schema " +
                s"($sampled). Read it with option inferSchema=true to type it from " +
                "the whole file.", e)
        }
      new Iterator[InternalRow] {
        def hasNext: Boolean = guard(rows.hasNext)
        def next(): InternalRow = guard(rows.next())
      }
    }
  }
}
