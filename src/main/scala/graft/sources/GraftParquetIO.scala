package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter,
  ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageType

/** The ONE place graft opens a parquet file or builds a parquet writer
  * (footer probes, the row/aggregate scan readers, snapshot, manifest,
  * DV, schema-carrier and task data writers).
  *
  * Both operations are built on the CALLER's Hadoop conf — the cached
  * session conf on the driver ([[GraftParquetWrite.sessionConf]]), the
  * shipped [[GraftSerConf]] value in tasks. parquet 1.16's convenience
  * entry points would otherwise allocate a `new Configuration()` per
  * call (`ParquetFileReader.open(InputFile)` via
  * `ParquetReadOptions.builder()`, `ParquetWriter.Builder.build()`
  * without `withConf`), and each re-parses every registered default
  * XML resource: milliseconds a call, paid on every footer open and
  * every metadata write of a commit.
  *
  * Conf ownership: readers only READ the passed conf, so it is shared
  * as is. Writers get a private copy (a map copy, no parsing): a write
  * support may store its state into the conf its writer is built on
  * (`GroupWriteSupport.setSchema`, which earlier parquet releases'
  * example writer called), and the shared conf must never carry one
  * writer's schema into another concurrent commit
  * ([[graft.SessionConfIsolationSpec]]). */
object GraftParquetIO {

  /** Open `file` for footer and row-group reads; the caller closes. */
  def open(file: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  /** A SNAPPY `Group` writer of `schema` at `out`, built on a private
    * copy of `conf`. `mode` CREATE fails if `out` exists; OVERWRITE is
    * for a file the caller already claimed. */
  def writer(out: Path, schema: MessageType, conf: Configuration,
      mode: ParquetFileWriter.Mode = ParquetFileWriter.Mode.CREATE)
      : ParquetWriter[Group] =
    ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(out, conf))
      .withConf(new Configuration(conf))
      .withType(schema)
      .withWriteMode(mode)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
}
