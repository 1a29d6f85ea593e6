package graft.server

import java.nio.file.Paths

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType

import graft.index.IndexFormat

/** One row of a corpus' `documents` table, as `/document/{id}` shows it. */
private[server] final case class Document(id: Long, lang: String, source: String, text: String)

/** Point lookups by doc_id in the `documents` table at the local `path`
  * (a parquet file, or a directory of them), read on the driver with
  * parquet-hadoop's `ParquetFileReader` ([[IndexFormat.openParquet]]): it
  * skips each row group whose doc_id statistics (or dictionary, or page
  * index) rule the id out and decodes the served columns of the rest.
  * Starts no Spark job. The files are listed once, here, as a DataFrame
  * lists them when it is built.
  */
private[server] final class Documents(path: String) {

  private val files = IndexFormat.dataFiles(Paths.get(path))

  private val served = Seq("doc_id", "lang", "source", "text")

  /** The first row whose doc_id is `id`, in file and row order. */
  def apply(id: Long): Option[Document] = files.iterator.flatMap { file =>
    val filter = FilterCompat.get(FilterApi.eq(FilterApi.longColumn("doc_id"),
      java.lang.Long.valueOf(id)))
    val r = IndexFormat.openParquet(file, _.withRecordFilter(filter))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val projection = new MessageType(schema.getName,
        served.map(c => schema.getType(schema.getFieldIndex(c))): _*)
      r.setRequestedSchema(projection)
      val io = new ColumnIOFactory().getColumnIO(projection, schema)
      var found: Option[Document] = None
      var pages = r.readNextFilteredRowGroup()
      while (found.isEmpty && pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(projection), filter)
        var i = 0L
        while (found.isEmpty && i < pages.getRowCount) {
          val g = records.read()
          if (g != null && !records.shouldSkipCurrentRecord())
            found = Some(Document(g.getLong("doc_id", 0), text(g, "lang"), text(g, "source"),
              text(g, "text")))
          i += 1
        }
        if (found.isEmpty) pages = r.readNextFilteredRowGroup()
      }
      found
    } finally r.close()
  }.nextOption()

  /** A string column's value, null when the row holds none. */
  private def text(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)
}
