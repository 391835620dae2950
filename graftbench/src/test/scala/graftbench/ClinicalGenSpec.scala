package graftbench

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class ClinicalGenSpec extends AnyFunSuite {
  private val shape = ClinicalGen.Shape(studies = 4, meanDonors = 50)

  private def written(seed: Long): (File, Map[String, Int]) = {
    val dir = Files.createTempDirectory("clinicalgen").toFile
    dir.deleteOnExit()
    (dir, ClinicalGen.write(dir, seed, shape))
  }

  private def bytes(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("the same seed writes the same bytes, another seed does not") {
    val (a, _) = written(7)
    val (b, _) = written(7)
    val (c, _) = written(8)
    assert(bytes(a).keySet.size == 18)
    assert(bytes(a) == bytes(b))
    assert(bytes(a)("donor.tsv") != bytes(c)("donor.tsv"))
  }

  test("per-entity row counts match the requested shape") {
    val (dir, counts) = written(3)
    val perStudy = ClinicalGen.donorCounts(3, shape)
    assert(perStudy.size == shape.studies)
    assert(math.abs(perStudy.sum - shape.studies * shape.meanDonors) <= shape.studies)
    assert(perStudy.max > perStudy.min * 2, "study sizes are skewed")
    assert(counts("study") == shape.studies)
    assert(counts("donor") == perStudy.sum)
    val filesPerDonor = counts("file").toDouble / counts("donor")
    assert(filesPerDonor > 1.6 && filesPerDonor < 2.4)
    for ((entity, file, header) <- ClinicalGen.Entities) {
      val lines = Files.readAllLines(new File(dir, file).toPath)
      assert(lines.get(0) == header.mkString("\t"))
      assert(lines.size - 1 == counts(entity), entity)
    }
  }

  test("studies regenerate alone and cover both summary vocabularies") {
    val all = ClinicalGen.all(3, shape)
    val studies = (0 until shape.studies).map(i => ClinicalGen.study(3, shape, i, 0))
    for ((entity, _, _) <- ClinicalGen.Entities)
      assert(studies.flatMap(_(entity)) == all(entity), entity)
    for (s <- studies) {
      assert(s("file").map(_(4)).distinct.size == 4)
      assert(s("file").map(_(6)).distinct.size == 5)
    }
    val donors = all("donor").map(_(1))
    assert(donors.distinct.size == donors.size, "donor ids are unique across studies")
    val reused = ClinicalGen.all(3, shape.copy(reuseIds = true))("donor").map(_(1))
    assert(reused.size == donors.size && reused.distinct.size < reused.size)
    assert(ClinicalGen.study(3, shape, 1, 1) != studies(1))
  }
}
