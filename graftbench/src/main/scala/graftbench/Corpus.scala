package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Random

/** Training-data curation: one op is one pass over a fixed list of
  * registered query faces (dedup/text, ANN, graph) on a generated
  * corpus. The corpus is fixed (generated from [[CorpusSeed]], not the
  * run's seed), so every run measures the same work. Set-up writes the
  * tables only: the per-corpus artifacts the faces share (IVF index,
  * LSH band state, shingles) are built by the first pass, as a
  * one-shot user would build them.
  *
  * Each op writes every face's result as parquet; its check requires
  * rows from every face and keeps the results under `faces/`. After
  * the run `run.py` compares the last op's results of each face whose
  * DuckDB oracle reads only the generated tables with that oracle.
  * Faces whose oracle reads a committed golden file (generated from
  * other inputs) are checked for rows only.
  */
object Corpus extends Workload {
  val name = "corpus_curation"
  val CorpusSeed = 20260117L

  /** Row counts of the sf0.01 tables, the scale the faces' constants
    * (eval split, query ids, ANN goldens) and their DuckDB oracle gate
    * are set for: 500 documents, 500 vectors, 15 000 orders of 1-7
    * lines (~60 000 lineitem rows) over 2 000 parts. */
  val Documents = 500
  val Vectors = 500
  val Orders = 15000
  val Parts = 2000

  val Faces: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q_dedup_near", "q_jaccard_exact", "q_decontaminate"),
    "ann" -> Seq("q_knn_ivf", "q_maxsim_ivf"),
    "graph" -> Seq("q_connected_components", "q_pagerank",
      "q_ontology_closure"))

  private val Words = ("key agg row scan slow fast table value part hash " +
    "batch window spark order data column join small line customer query " +
    "filter the a of index shard merge sort tree graph node edge rank " +
    "token text model train eval score label cluster vector dense sparse")
    .split(" ").toVector

  /** documents(doc_id, text, lang, source, n_chars): a quarter of the
    * documents are light edits of an earlier one (near-duplicates). */
  def documents(rnd: Random, n: Int): Seq[Row] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 10 && rnd.nextInt(4) == 0) {
          val ws = texts(rnd.nextInt(i)).split(" ")
          ws.indices.map(j => if (rnd.nextInt(12) == 0) Words(rnd.nextInt(Words.size))
            else ws(j)).mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(80))(Words(rnd.nextInt(Words.size))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, if (rnd.nextInt(10) == 0) "fr" else "en",
        s"src${rnd.nextInt(20)}", text.length.toLong)
    }
  }

  /** embeddings(vec_id, embedding float[64], label): ten Gaussian
    * clusters; `label` is the cluster. */
  def embeddings(rnd: Random, n: Int): Seq[Row] = {
    val centers = Vector.fill(10)(Vector.fill(64)(rnd.nextGaussian()))
    (0 until n).map { i =>
      val c = rnd.nextInt(10)
      Row(i.toLong, centers(c).map(x => (x + 0.4 * rnd.nextGaussian()).toFloat),
        c)
    }
  }

  /** lineitem(l_orderkey, l_partkey): baskets of 1-7 parts drawn with
    * a popularity skew, so part pairs recur across orders. */
  def lineitem(rnd: Random, orders: Int, parts: Int): Seq[Row] =
    (1 to orders).flatMap { o =>
      Seq.fill(1 + rnd.nextInt(7))(1L + (parts * math.pow(rnd.nextDouble(), 2.5)).toLong)
        .distinct.map(p => Row(o.toLong, p))
    }

  private def write(spark: SparkSession, rows: Seq[Row], schema: String,
      path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType.fromDDL(schema)).write.mode("overwrite").parquet(path)

  def setup(spark: SparkSession, dir: File, seed: Long): Instance = {
    val rnd = new Random(CorpusSeed)
    val d = new File(dir, "tables").getPath
    write(spark, documents(rnd, Documents),
      "doc_id bigint, text string, lang string, source string, n_chars bigint",
      s"$d/documents.parquet")
    write(spark, embeddings(rnd, Vectors), "vec_id bigint, embedding array<float>, label int",
      s"$d/embeddings.parquet")
    write(spark, lineitem(rnd, Orders, Parts), "l_orderkey bigint, l_partkey bigint",
      s"$d/lineitem.parquet")
    write(spark, (1L to Parts.toLong).map(Row(_)), "p_partkey bigint", s"$d/part.parquet")
    val queries = SparkEntry.queries
    val faces = new File(dir, "faces")
    def out(k: Int) = new File(dir, s"out_$k")

    new Instance {
      def op(k: Int, span: Spans): Map[String, Double] = {
        for ((group, names) <- Faces) span(group) {
          for (face <- names) span(s"face.$face") {
            queries(face)(spark, d).write.parquet(s"${out(k)}/$face")
          }
        }
        Map.empty
      }

      /** Every face wrote rows; the op's results then replace the
        * previous op's under `faces/`, for the oracle check. */
      def check(k: Int): Seq[String] = {
        val empty = Faces.flatMap(_._2).filter(f =>
          spark.read.parquet(s"${out(k)}/$f").isEmpty)
        Clinical.deleteRec(faces)
        out(k).renameTo(faces)
        empty.map(f => s"$f returned no rows")
      }

      def cleanup(k: Int): Unit = Clinical.deleteRec(out(k))

      override def finish(): Unit = {
        val oracles = SparkEntry.oracleSql
        val checked = Faces.flatMap(_._2).flatMap(f => oracles.get(f)
          .filterNot(_.contains("golden_")).map(f -> _))
        Files.write(new File(dir, "oracles.json").toPath, Main.toJson(Map(
          "tables" -> d, "results" -> faces.getPath,
          "faces" -> checked.toMap)).getBytes(UTF_8))
      }
    }
  }
}
