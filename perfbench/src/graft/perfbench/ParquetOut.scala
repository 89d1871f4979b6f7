package graft.perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Writes generated inputs as parquet directories straight through
  * parquet-hadoop, without a Spark job: input generation stays cheap
  * and leaves no warm code paths behind for set-up to inherit. Rows are
  * cut into [[Files]] contiguous part files, so scans split across the
  * local cores as they would over a real table. */
object ParquetOut {

  /** The engine's `documents` table shape. */
  val docs: MessageType = MessageTypeParser.parseMessageType(
    """message documents {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |  required binary lang (STRING);
      |  required binary source (STRING);
      |  required int64 n_chars;
      |}""".stripMargin)

  /** The engine's `embeddings` table shape. */
  val vectors: MessageType = MessageTypeParser.parseMessageType(
    """message embeddings {
      |  required int64 vec_id;
      |  required group embedding (LIST) {
      |    repeated group list { required float element; }
      |  }
      |  required int32 label;
      |}""".stripMargin)

  val Files: Int = Runtime.getRuntime.availableProcessors()

  private val conf = new Configuration()

  private def write[T](dir: String, schema: MessageType, rows: Iterable[T])(
      row: (SimpleGroupFactory, T) => Group): Unit = {
    val f = new SimpleGroupFactory(schema)
    val all = rows.toIndexedSeq
    val per = math.max(1, (all.size + Files - 1) / Files)
    all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val w = ExampleParquetWriter.builder(new HPath(dir, f"part-$i%05d.parquet"))
        .withConf(conf).withType(schema)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try chunk.foreach(r => w.write(row(f, r)))
      finally w.close()
    }
  }

  private val langs = Array("en", "es", "fr", "de", "zh")

  def writeDocs(dir: String, rows: Iterable[(Long, String)]): Unit =
    write(dir, docs, rows) { case (f, (id, t)) =>
      f.newGroup().append("doc_id", id).append("text", t)
        .append("lang", langs((id % langs.length).toInt))
        .append("source", s"src${id % 20}").append("n_chars", t.length.toLong)
    }

  def writeVectors(dir: String, rows: Iterable[(Long, Array[Float])]): Unit =
    write(dir, vectors, rows) { case (f, (id, v)) =>
      val g = f.newGroup().append("vec_id", id)
      val e = g.addGroup("embedding")
      v.foreach(x => e.addGroup("list").append("element", x))
      g.append("label", (id % 16).toInt)
    }
}
