package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.Artifacts]]: where the persisted corpus artifacts live. */
class ArtifactsSpec extends AnyFunSuite with SparkTestBase {

  test("ivf index, lm scores and cardinality estimate all land under graft.scratch.root") {
    val tmp = Files.createTempDirectory("graft_artifacts").toFile
    val corpus = new File(tmp, "corpus"); corpus.mkdirs()
    Seq("embeddings.parquet", "documents.parquet").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t"), new File(corpus, t).toPath)
    }
    val scratch = new File(tmp, "scratch")
    spark.conf.set("graft.scratch.root", scratch.getPath)
    try {
      val (lists, _) = Similarity.ivfIndex(spark, corpus.getPath)
      val scores = TextAnalysis.lmScore(spark, corpus.getPath)
      Dedup.dedupIncremental(spark, corpus.getPath) // sizes its bloom from the estimate
      assert(lists.startsWith(scratch.getPath + "/"), lists)
      assert(scores.inputFiles.nonEmpty)
      scores.inputFiles.foreach { f =>
        assert(new File(new java.net.URI(f)).getPath.startsWith(scratch.getPath + "/"), f)
      }
      for (kind <- Seq("ivf", "lm", "card")) {
        val versions = Option(new File(scratch, s"graft_$kind").listFiles()).toSeq.flatten
          .flatMap(_.listFiles()).filter(_.getName.startsWith("v_"))
        assert(versions.length == 1, s"$kind: ${versions.mkString(", ")}")
      }
    } finally {
      spark.conf.unset("graft.scratch.root")
      def rm(f: File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(tmp)
    }
  }
}
