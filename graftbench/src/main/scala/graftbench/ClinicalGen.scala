package graftbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import scala.util.Random

/** Seeded generator of clinical inputs in the fixture layout of
  * `src/test/resources/clinical`: twelve header-ful TSV entity files,
  * four gzipped JSON-lines ontology term files with multi-level
  * `ancestors` chains, and the fixture's `dictionary.json` /
  * `metadata.json` (copied verbatim, so `JsonDictionary` prunes exactly
  * as `graft.Main` does).
  *
  * Every study is generated from its own random stream, derived from
  * (seed, study index, version), so one study can be regenerated for a
  * refresh without touching the others. Study sizes are a seeded
  * permutation of fixed skew factors, so every seed yields the same
  * total donor count; each donor carries two files on average, the
  * ratio of BASELINE.md's representative study (377 donors / 754
  * files). Each study also uses every `data_category` and
  * `experimental_strategy` value at least once, so a one-study summary
  * universe equals the all-study one.
  *
  * The generator is pure (no Spark): the same arguments give the same
  * rows and the same bytes on disk.
  */
object ClinicalGen {

  /** `studies` studies whose donor counts average `meanDonors`.
    * Submitter ids are unique across studies, as in the fixture, unless
    * `reuseIds` numbers every study's ids from the same start. */
  final case class Shape(studies: Int, meanDonors: Int,
      reuseIds: Boolean = false)

  /** Entity (Pipeline's sanitized name) → TSV file name, and the TSV
    * header. Columns outside the dictionary (`age TODAY`,
    * `internal_notes`, donor `is_a_proband`) are there to be pruned. */
  val Entities: Seq[(String, String, Seq[String])] = Seq(
    ("donor", "donor.tsv", Seq("study_id", "submitter_donor_id", "dob",
      "age TODAY", "gender", "ethnicity", "vital_status", "is_a_proband")),
    ("study", "study.tsv", Seq("study_id", "name", "domain",
      "access_limitations", "access_requirements", "internal_notes")),
    ("phenotype", "phenotype.tsv", Seq("study_id", "submitter_donor_id",
      "submitter_phenotype_id", "phenotype_HPO_code", "phenotype_HPO_term",
      "age_at_phenotype", "phenotype_observed")),
    ("file", "file.tsv", Seq("study_id", "submitter_donor_id",
      "submitter_biospecimen_id", "file_name", "data_category", "data_type",
      "experimental_strategy", "file_format", "data_access")),
    ("biospecimen", "biospecimen.tsv", Seq("study_id", "submitter_donor_id",
      "submitter_biospecimen_id", "biospecimen_tissue_source",
      "biospecimen_type", "is_cancer")),
    ("sampleregistration", "sample_registration.tsv", Seq("study_id",
      "submitter_donor_id", "submitter_biospecimen_id",
      "submitter_sample_id", "sample_type")),
    ("diagnosis", "diagnosis.tsv", Seq("study_id", "submitter_donor_id",
      "submitter_diagnosis_id", "diagnosis_mondo_code", "diagnosis_ICD_code",
      "age_at_diagnosis", "is_cancer")),
    ("treatment", "treatment.tsv", Seq("study_id", "submitter_donor_id",
      "submitter_treatment_id", "submitter_diagnosis_id", "treatment_type",
      "treatment_intent")),
    ("followup", "follow_up.tsv", Seq("study_id", "submitter_donor_id",
      "submitter_diagnosis_id", "submitter_follow_up_id",
      "days_to_follow_up", "disease_status")),
    ("exposure", "exposure.tsv", Seq("study_id", "submitter_donor_id",
      "smoking_status", "alcohol_status")),
    ("family", "family.tsv", Seq("study_id", "submitter_family_id",
      "submitter_donor_id", "family_type", "is_a_proband",
      "relationship_to_proband")),
    ("familyhistory", "family_history.tsv", Seq("study_id",
      "submitter_donor_id", "submitter_family_condition_id",
      "family_condition_name", "family_condition_age",
      "family_condition_relationship")))

  private val Skew = Vector(0.45, 0.7, 0.9, 1.1, 1.3, 1.55)

  def studyId(index: Int): String = f"ST$index%03d"

  /** Donor count of every study, in study order. */
  def donorCounts(seed: Long, shape: Shape): Vector[Int] = {
    val factors = new Random(seed).shuffle(
      Vector.tabulate(shape.studies)(i => Skew(i % Skew.size)))
    val norm = factors.sum / shape.studies
    factors.map(f => math.max(4, math.round(shape.meanDonors * f / norm).toInt))
  }

  // ---- ontology terms: fixed trees, two to four levels deep ----

  final case class Term(id: String, name: String, parent: Option[String])

  private def tree(root: Term, branches: Seq[(String, String)],
      leavesPer: Int, idOf: (Int, Int) => String,
      mid: Boolean): Seq[Term] = {
    branches.zipWithIndex.flatMap { case ((bid, bname), b) =>
      val branch = Term(bid, bname, Some(root.id))
      val midTerm =
        if (mid) Some(Term(idOf(b, 99), s"$bname group", Some(bid))) else None
      val leafParent = midTerm.getOrElse(branch).id
      branch +: (midTerm.toSeq ++ (0 until leavesPer).map(l =>
        Term(idOf(b, l), s"$bname finding ${l + 1}", Some(leafParent))))
    } :+ root
  }

  val Hpo: Seq[Term] = tree(
    Term("HP:0000118", "Phenotypic abnormality", None),
    Seq("HP:0000707" -> "Nervous system", "HP:0001626" -> "Cardiovascular",
      "HP:0000152" -> "Head and neck", "HP:0000951" -> "Skin",
      "HP:0025142" -> "Constitutional", "HP:0001939" -> "Metabolism"),
    leavesPer = 6, idOf = (b, l) => f"HP:${3000000 + b * 100 + l}%07d",
    mid = true)

  val Mondo: Seq[Term] = tree(
    Term("MONDO:0000001", "disease or disorder", None),
    Seq("MONDO:0005071" -> "nervous system disorder",
      "MONDO:0004995" -> "cardiovascular disorder",
      "MONDO:0004992" -> "cancer", "MONDO:0005135" -> "genetic disease",
      "MONDO:0021166" -> "inflammatory disease"),
    leavesPer = 6, idOf = (b, l) => f"MONDO:${7000000 + b * 100 + l}%07d",
    mid = true)

  /** ICD leaves (`code|chapter`) under chapter blocks; the block id is
    * the range form IcdChapterRoot recognises. */
  private val IcdBlocks: Seq[(String, String, String, Int)] = Seq(
    ("I20-I25", "Ischaemic heart diseases", "I", 9),
    ("G40-G47", "Episodic and paroxysmal disorders", "G", 6),
    ("C50-C50", "Malignant neoplasm of breast", "C", 2),
    ("E10-E14", "Diabetes mellitus", "E", 4),
    ("J40-J47", "Chronic lower respiratory diseases", "J", 10))
  private def icdCodes(b: Int): Seq[String] = {
    val (range, _, letter, _) = IcdBlocks(b)
    val lo = range.substring(1, 3).toInt
    (0 until 4).map(i => f"$letter${lo + i}%02d")
  }
  val IcdLeafCodes: Seq[String] = IcdBlocks.indices.flatMap(icdCodes)

  val Duo: Seq[Term] = Seq(
    "DUO:0000005" -> "General Research Use",
    "DUO:0000007" -> "Disease Specific Research",
    "DUO:0000042" -> "General Research Use",
    "DUO:0000019" -> "Publication Required",
    "DUO:0000021" -> "Ethics Approval Required",
    "DUO:0000026" -> "User Specific Restriction").map { case (i, n) =>
      Term(i, n, None) }

  private def leaves(terms: Seq[Term]): Seq[Term] =
    terms.filterNot(t => terms.exists(_.parent.contains(t.id)))

  private val HpoLeaves = leaves(Hpo)
  private val MondoLeaves = leaves(Mondo)

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def label(t: Term): String = s"${t.name} (${t.id})"
  private def strArr(xs: Seq[String]): String = xs.map(q).mkString("[", ", ", "]")
  private def ancObj(id: String, name: String, parents: Seq[String]): String =
    s"""{"id": ${q(id)}, "name": ${q(name)}, "parents": ${strArr(parents)}}"""
  private def termLine(id: String, name: String, isLeaf: Boolean,
      parents: Seq[String], ancestors: Seq[String]): String =
    s"""{"ancestors": ${ancestors.mkString("[", ", ", "]")}, "id": ${q(id)}, """ +
      s""""is_leaf": $isLeaf, "name": ${q(name)}, "parents": ${strArr(parents)}}"""

  /** JSON lines of a parent-linked term tree, ancestors nearest first. */
  private def treeLines(terms: Seq[Term]): Seq[String] = {
    val byId = terms.map(t => t.id -> t).toMap
    def parents(t: Term): Seq[String] = t.parent.map(p => label(byId(p))).toSeq
    def chain(t: Term): List[Term] =
      t.parent.map(byId).map(p => p :: chain(p)).getOrElse(Nil)
    val leafIds = leaves(terms).map(_.id).toSet
    terms.map(t => termLine(t.id, t.name, leafIds(t.id), parents(t),
      chain(t).map(a => ancObj(a.id, a.name, parents(a)))))
  }

  private def icdLines: Seq[String] = IcdBlocks.indices.flatMap { b =>
    val (range, name, letter, chapter) = IcdBlocks(b)
    val chapterName = s"Chapter $chapter diseases ($letter)"
    val block = termLine(s"$range|$chapter", name, isLeaf = false,
      Seq.empty, Seq(ancObj("", chapterName, Seq.empty)))
    block +: icdCodes(b).zipWithIndex.map { case (code, i) =>
      termLine(s"$code|$chapter", s"$name, type ${i + 1}", isLeaf = true,
        Seq(s"$name ($range)"),
        Seq(ancObj("", chapterName, Seq.empty), ancObj(range, name, Seq.empty)))
    }
  }

  /** Term file name → JSON lines. */
  def termFiles: Seq[(String, Seq[String])] = Seq(
    "terms.jsonl.gz" -> treeLines(Hpo),
    "mondo_terms.jsonl.gz" -> treeLines(Mondo),
    "icd_terms.jsonl.gz" -> icdLines,
    "duo_terms.jsonl.gz" -> Duo.map(t =>
      termLine(t.id, t.name, isLeaf = true, Seq.empty, Seq.empty)))

  // ---- one study ----

  private val DataCategories = Seq("Genomics", "Transcriptomics", "Imaging",
    "Proteomics")
  private val Strategies = Seq("WGS", "WXS", "RNA-Seq", "Histology",
    "Methylation")
  private val Formats = Map("Genomics" -> ("Aligned Reads", "CRAM"),
    "Transcriptomics" -> ("Gene Expression", "TSV"),
    "Imaging" -> ("Slide Image", "PNG"), "Proteomics" -> ("Peptides", "MZML"))

  /** Rows of every entity for study `index` at `version` (a refresh
    * regenerates a study at a higher version: same ids, new content
    * and size). */
  def study(seed: Long, shape: Shape, index: Int, version: Int)
      : Map[String, Vector[Seq[String]]] = {
    val rnd = new Random(new Random(seed * 1000003L + index * 7919L +
      version * 104729L).nextLong())
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def bool(p: Double): String = if (rnd.nextDouble() < p) "TRUE" else "FALSE"
    val base = donorCounts(seed, shape)(index)
    val nDonors =
      if (version == 0) base
      else math.max(4, base + rnd.nextInt(base / 5 + 1) - base / 10)
    val sid = studyId(index)
    val u = if (shape.reuseIds) "" else f"$index%03d-"
    val out = Entities.map(e => e._1 -> Vector.newBuilder[Seq[String]]).toMap
    val duo = Duo.map(_.id)
    out("study") += Seq(sid, s"Generated Study $index", pick(Seq("General",
      "Cancer", "Rare Disease")), pick(duo.take(3)),
      rnd.shuffle(duo.drop(3)).take(1 + rnd.nextInt(2)).sorted.mkString(";"),
      s"v$version")
    var fileNo = 0
    for (d <- 0 until nDonors) {
      val did = s"DO$u$d"
      val dob =
        if (rnd.nextInt(50) == 0) "bad-date"
        else s"${1 + rnd.nextInt(28)}/${1 + rnd.nextInt(12)}/${1940 + rnd.nextInt(70)}"
      out("donor") += Seq(sid, did, dob, (10 + rnd.nextInt(70)).toString,
        pick(Seq("Female", "Male")),
        if (rnd.nextInt(10) == 0) "" else pick(Seq("groupA", "groupB", "groupC")),
        pick(Seq("alive", "alive", "deceased", "unknown")), bool(0.3))
      for (p <- 0 until rnd.nextInt(5)) {
        val t = if (rnd.nextInt(40) == 0) Term("HP:9999999", "Unlisted", None)
          else pick(HpoLeaves)
        out("phenotype") += Seq(sid, did, s"PH$u${d}_$p", t.id, t.name,
          rnd.nextInt(60).toString, pick(Seq("TRUE", "FALSE", "yes", "1")))
      }
      val bios = (0 until 1 + rnd.nextInt(2)).map(b => s"BS$u${d}_$b")
      for (b <- bios) {
        out("biospecimen") += Seq(sid, did, b, pick(Seq("blood", "tumor",
          "saliva", "bone marrow")), pick(Seq("normal", "tumor")), bool(0.2))
        for (s <- 0 until 1 + rnd.nextInt(2))
          out("sampleregistration") += Seq(sid, did, b, s"${b}_SA$s",
            pick(Seq("DNA", "RNA")))
      }
      for (_ <- 0 until 1 + rnd.nextInt(3)) {
        // the first files of a study walk both vocabularies once
        val cat = if (fileNo < DataCategories.size) DataCategories(fileNo)
          else pick(DataCategories)
        val strat = if (fileNo < Strategies.size) Strategies(fileNo)
          else pick(Strategies)
        val (dtype, fmt) = Formats(cat)
        out("file") += Seq(sid, did, pick(bios), s"F$u$fileNo.${fmt.toLowerCase}",
          cat, dtype, strat, fmt, pick(Seq("controlled", "open")))
        fileNo += 1
      }
      for (g <- 0 until rnd.nextInt(3)) {
        val dg = s"DG$u${d}_$g"
        val mondo = if (rnd.nextInt(40) == 0) "MONDO:9999999"
          else pick(MondoLeaves).id
        out("diagnosis") += Seq(sid, did, dg, mondo, pick(IcdLeafCodes),
          rnd.nextInt(80).toString, bool(0.25))
        for (t <- 0 until rnd.nextInt(3))
          out("treatment") += Seq(sid, did, s"TR$u${d}_${g}_$t", dg,
            pick(Seq("Surgery", "Medication", "Radiation therapy")),
            pick(Seq("Curative", "Palliative")))
        for (f <- 0 until rnd.nextInt(3))
          out("followup") += Seq(sid, did, dg, s"FU$u${d}_${g}_$f",
            rnd.nextInt(2000).toString,
            pick(Seq("Stable", "Improved", "Progressed")))
      }
      if (rnd.nextDouble() < 0.7)
        out("exposure") += Seq(sid, did, pick(Seq("Never smoker",
          "Current smoker", "Former smoker")), pick(Seq("None", "Weekly",
          "Daily")))
      if (d % 10 < 3) // families of three consecutive donors
        out("family") += Seq(sid, s"FM$u${d / 3}", did, "Trio",
          if (d % 3 == 0) "TRUE" else "FALSE",
          Seq("Is the proband", "Father", "Mother")(d % 3))
      if (rnd.nextDouble() < 0.4)
        out("familyhistory") += Seq(sid, did, s"FC$u$d", pick(Seq("Diabetes",
          "Hypertension", "Asthma")), (30 + rnd.nextInt(50)).toString,
          pick(Seq("mother", "father", "grandfather")))
    }
    out.map { case (k, b) => k -> b.result() }
  }

  /** Every study at version 0, concatenated per entity. */
  def all(seed: Long, shape: Shape): Map[String, Vector[Seq[String]]] = {
    val studies = (0 until shape.studies).map(i => study(seed, shape, i, 0))
    Entities.map { case (e, _, _) => e -> studies.flatMap(_(e)).toVector }.toMap
  }

  def tsv(header: Seq[String], rows: Seq[Seq[String]]): String =
    (header +: rows).map(_.mkString("\t")).mkString("", "\n", "\n")

  private def gzip(lines: Seq[String]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val z = new GZIPOutputStream(bytes)
    z.write(lines.mkString("", "\n", "\n").getBytes(UTF_8))
    z.close()
    bytes.toByteArray
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graftbench/$name")
    try in.readAllBytes() finally in.close()
  }

  /** Write a full input directory; returns per-entity row counts. */
  def write(dir: File, seed: Long, shape: Shape): Map[String, Int] = {
    dir.mkdirs()
    val rows = all(seed, shape)
    for ((entity, file, header) <- Entities)
      Files.write(new File(dir, file).toPath,
        tsv(header, rows(entity)).getBytes(UTF_8))
    for ((file, lines) <- termFiles)
      Files.write(new File(dir, file).toPath, gzip(lines))
    for (name <- Seq("dictionary.json", "metadata.json"))
      Files.write(new File(dir, name).toPath, resource(name))
    rows.map { case (e, r) => e -> r.size }
  }
}
