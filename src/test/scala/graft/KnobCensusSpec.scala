package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the run-time knobs the engine reads: every environment
  * variable named through `sys.env`/`System.getenv` and every `graft.*`
  * session conf key read through `conf.get*` under `src/main`. The lists
  * below are the whole set, so a new knob is a deliberate edit here. */
class KnobCensusSpec extends AnyFunSuite {

  private val envVars = Set("SPARK_GRAFT_CPUS", "ETL_ENVIRONMENT")

  private val graftKeys = Set(
    "graft.backfill.root", "graft.card.root", "graft.compact.root",
    "graft.dynover.root", "graft.erasure.root", "graft.evolve.root",
    "graft.ivf.root", "graft.lm.root", "graft.mor.root",
    "graft.quarantine.root", "graft.scratch.root", "graft.snapshot.root",
    "graft.zorder.root",
    "graft.ivf.nprobe", "graft.ivf.refine")

  private lazy val sources: Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
  }

  private def names(pattern: String): Set[String] = {
    val re = pattern.r
    sources.flatMap(s => re.findAllMatchIn(s).map(_.group(1))).toSet
  }

  test("environment variables read under src/main are exactly the listed ones") {
    val read = names("""sys\.env(?:\.get|\.getOrElse|\.contains)?\(\s*"([^"]+)"""") ++
      names("""System\.getenv\(\s*"([^"]+)"""")
    assert(read == envVars,
      s"unlisted: ${read -- envVars}; listed but not read: ${envVars -- read}")
  }

  test("graft.* conf keys read under src/main are exactly the listed ones") {
    val read = names("""conf\.get[A-Za-z]*\(\s*"(graft\.[^"]+)"""")
    assert(read == graftKeys,
      s"unlisted: ${read -- graftKeys}; listed but not read: ${graftKeys -- read}")
  }
}
