package graftbench

import graft.etl.{Indexes, JsonDictionary, Pipeline}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.File

/** Clinical inputs every clinical workload starts from: a generated
  * input directory at the run's seed. */
object Clinical {

  /** 8 studies of 377 donors on average (~754 files each), the size of
    * BASELINE.md's study. Twenty such studies took ~21 s per op, which
    * the benchmark's per-run time budget does not fit. */
  val Shape: ClinicalGen.Shape = ClinicalGen.Shape(studies = 8, meanDonors = 377)

  /** Order-independent (row count, sum of row hashes) of a frame, over
    * its columns sorted by name. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(xxhash64(to_json(struct(cols: _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(0))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  def deleteRec(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }
}

/** `graft.Main process`: pre-process then process, exactly as Main
  * calls them, on the generated inputs; each op writes a fresh output
  * directory that is checked and then deleted. */
class Release(val name: String, shape: ClinicalGen.Shape) extends Workload {

  def setup(spark: SparkSession, dir: File, seed: Long): Instance = {
    val in = new File(dir, "input")
    val counts = ClinicalGen.write(in, seed, shape)
    val tsvBytes = ClinicalGen.Entities
      .map(e => new File(in, e._2).length()).sum
    new Instance {
      private def out(k: Int) = new File(dir, s"out_$k")

      def op(k: Int, span: Spans): Map[String, Double] = {
        val o = out(k).getPath
        val dict = JsonDictionary(spark, s"$in/dictionary.json")
        val entities = span("pre_process") {
          Pipeline.preProcessStage(spark, in.getPath, s"$o/stage1",
            dictionary = dict)
        }
        span("process") {
          Pipeline.processStage(spark, in.getPath, entities, s"$o/indexes")
        }
        Map("output_bytes" -> Clinical.dirBytes(out(k)).toDouble)
      }

      def check(k: Int): Seq[String] = {
        def read(product: String, key: String) =
          spark.read.schema(s"$key string").json(s"${out(k)}/indexes/$product")
        val donors = read("donors", "submitter_donor_id")
        val perDonor = donors.groupBy("study_id", "submitter_donor_id").count()
        val got = Seq(
          "donor documents" -> (donors.count(), counts("donor").toLong),
          "distinct donors" -> (perDonor.count(), counts("donor").toLong),
          "repeated donors" -> (perDonor.filter(col("count") > 1).count(), 0L),
          "study documents" -> (read("studies", "name").count(),
            counts("study").toLong),
          "file documents" -> (read("files", "file_name").count(),
            counts("file").toLong))
        got.collect { case (what, (g, want)) if g != want =>
          s"$what: got $g, want $want" }
      }

      def cleanup(k: Int): Unit = Clinical.deleteRec(out(k))

      override def tsvBytesOnDisk: Long = tsvBytes
    }
  }
}

object ClinicalRelease extends Release("clinical_release", Clinical.Shape)

/** The release on inputs whose submitter ids repeat across studies, a
  * check-only path: `Indexes` joins some nests on submitter ids
  * without `study_id`, so repeated ids fan out into extra documents
  * and this workload's check fails until that is fixed. */
object ClinicalReleaseReusedIds extends Release("clinical_release_reused_ids",
  Clinical.Shape.copy(reuseIds = true))

/** Study refresh against stored indexes: set-up writes the
  * study-partitioned catalog and the study/donor/file stores; each op
  * regenerates one study, overwrites its catalog partitions, refreshes
  * the three stores and reads the study back. */
object ClinicalRefresh extends Workload {
  val name = "clinical_refresh"

  /** Generator entity → catalog table name (Indexes' field names). */
  private val CatalogName = Map("sampleregistration" -> "samples",
    "followup" -> "followUp", "familyhistory" -> "familyHistory")

  def setup(spark: SparkSession, dir: File, seed: Long): Instance = {
    val in = new File(dir, "input")
    ClinicalGen.write(in, seed, Clinical.Shape)
    val cat = s"$dir/catalog"
    val store = Map("study" -> s"$dir/store_study",
      "donor" -> s"$dir/store_donor", "file" -> s"$dir/store_file")
    Indexes.writeClinicalCatalog(
      Indexes.ClinicalInputs.fromDir(spark, in.getPath), cat)
    val all = Indexes.readClinicalCatalog(spark, cat)
    Indexes.writeStudyIndexStore(Indexes.studyIndex(all), store("study"))
    Indexes.writeDocIndexStore(Indexes.donorIndex(all), store("donor"))
    Indexes.writeDocIndexStore(Indexes.fileIndex(all), store("file"))
    // ops walk the studies from a seeded offset, one study per op
    val offset = new scala.util.Random(seed).nextInt(Clinical.Shape.studies)
    def studyOf(k: Int) = ClinicalGen.studyId((offset + k) % Clinical.Shape.studies)

    new Instance {
      private var readBack = Map.empty[String, DataFrame]

      def op(k: Int, span: Spans): Map[String, Double] = {
        val idx = (offset + k) % Clinical.Shape.studies
        val sid = studyOf(k)
        val changed = Seq(sid)
        val rows = ClinicalGen.study(seed, Clinical.Shape, idx, version = k + 1)
        span("catalog_write") {
          for ((entity, _, header) <- ClinicalGen.Entities) {
            val schema = StructType(header.map(StructField(_, StringType)))
            val df = spark.createDataFrame(
              spark.sparkContext.parallelize(rows(entity).map(Row.fromSeq), 1),
              schema)
            Sinks.overwritePartitions(
              df.withColumn("__study_pt", col("study_id")),
              s"$cat/${CatalogName.getOrElse(entity, entity)}", Seq("__study_pt"))
          }
        }
        span("refresh_study") {
          Indexes.refreshStudyIndexStore(spark, store("study"), cat, changed, Seq.empty)
        }
        span("refresh_donor") {
          Indexes.refreshDocIndexStore(spark, store("donor"),
            (i: Indexes.ClinicalInputs) => Indexes.donorIndex(i), cat, changed)
        }
        span("refresh_file") {
          Indexes.refreshDocIndexStore(spark, store("file"),
            (i: Indexes.ClinicalInputs) => Indexes.fileIndex(i), cat, changed)
        }
        val t0 = System.nanoTime()
        span("lookup") {
          readBack = Map(
            "study" -> Indexes.readStudyIndexStore(spark, store("study"), changed),
            "donor" -> Indexes.readDocIndexStore(spark, store("donor"), changed),
            "file" -> Indexes.readDocIndexStore(spark, store("file"), changed))
          readBack.values.foreach(_.collect())
        }
        Map("lookup_s" -> (System.nanoTime() - t0) / 1e9)
      }

      def check(k: Int): Seq[String] = {
        val scratch = Indexes.filterStudies(
          Indexes.readClinicalCatalog(spark, cat), Seq(studyOf(k)))
        val expected = Map("study" -> Indexes.studyIndex(scratch),
          "donor" -> Indexes.donorIndex(scratch),
          "file" -> Indexes.fileIndex(scratch))
        expected.toSeq.flatMap { case (p, want) =>
          val (gn, gh) = Clinical.fingerprint(readBack(p))
          val (wn, wh) = Clinical.fingerprint(want)
          if (gn == wn && gh == wh && wn > 0) None
          else Some(s"$p store read-back differs from a rebuild " +
            s"(${gn} vs ${wn} rows)")
        }
      }

      def cleanup(k: Int): Unit = readBack = Map.empty
    }
  }
}
