package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}

/** Helpers for the seeded input generators. */
object Inputs {

  /** Fisher-Yates shuffle driven by the workload's seeded generator. */
  def shuffle[T](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Write in-memory rows as parquet, in four files like a small
    * multi-file source. Column types follow the first row's values:
    * Long, String, or Seq[Double] (a list). Written with the parquet
    * library directly, so generating inputs runs no Spark job.
    */
  def write(rows: Seq[Product], path: String, cols: String*): Unit = {
    val t0 = System.nanoTime()
    val fields: Seq[Type] = cols.zip(rows.head.productIterator.toSeq).map {
      case (n, _: Long) => Types.optional(INT64).named(n)
      case (n, _: String) => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(n)
      case (n, _: Seq[_]) => Types.optionalList().element(Types.required(DOUBLE).named("element")).named(n)
      case (n, v) => throw new IllegalArgumentException(s"column $n: unsupported value $v")
    }
    val schema = new MessageType("row", fields.asJava)
    val dir = Paths.get(path)
    deleteTree(dir)
    Files.createDirectories(dir)
    val factory = new SimpleGroupFactory(schema)
    rows.grouped((rows.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
      val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve(f"part-$i%05d.parquet")))
        .withType(schema).withCompressionCodec(CompressionCodecName.UNCOMPRESSED).build()
      try part.foreach { r =>
        val g = factory.newGroup()
        r.productIterator.zipWithIndex.foreach {
          case (v: Long, j) => g.add(j, v)
          case (v: String, j) => g.add(j, v)
          case (v: Seq[_], j) =>
            val list = g.addGroup(j)
            v.foreach(x => list.addGroup(0).add(0, x.asInstanceOf[Double]))
          case (v, j) => throw new IllegalArgumentException(s"column ${cols(j)}: unsupported value $v")
        }
        w.write(g)
      } finally w.close()
    }
    System.err.println(f"[graftbench] wrote $path ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Total size of the regular files under `dir`. */
  def bytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
