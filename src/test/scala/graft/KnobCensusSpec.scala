package graft

import org.scalatest.funsuite.AnyFunSuite

/** Census of the run-time knobs the engine reads: every environment
  * variable named through `sys.env`/`System.getenv`, every `graft.*`
  * session conf key read through `conf.get*` and every absolute path
  * default under `src/main`. The lists below are the whole set, so a
  * new knob or baked-in path is a deliberate edit here. */
class KnobCensusSpec extends AnyFunSuite {

  private val envVars = Set("SPARK_GRAFT_CPUS", "ETL_ENVIRONMENT")

  private val graftKeys = Set("graft.scratch.root", "graft.ivf.nprobe", "graft.ivf.refine")

  /** Files holding an absolute path default: the scratch root and the
    * sample-data directory of the entry point and `RunQuery`. */
  private val pathDefaultFiles = Seq("RunQuery.scala", "SparkEntry.scala", "Tables.scala")

  private lazy val sources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.mkString finally src.close()
    }
  }

  private def names(pattern: String): Set[String] = {
    val re = pattern.r
    sources.flatMap { case (_, s) => re.findAllMatchIn(s).map(_.group(1)) }.toSet
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

  test("absolute path defaults under src/main are exactly the listed ones") {
    // literals under the top-level directory of the scratch-root default
    val top = Tables.DefaultScratchRoot.split('/').take(2).mkString("", "/", "/")
    val re = ("\"(" + java.util.regex.Pattern.quote(top) + "[^\"]*)\"").r
    val found = sources.flatMap { case (file, s) =>
      re.findAllMatchIn(s).map(m => file -> m.group(1)) }.sorted
    assert(found.map(_._1) == pathDefaultFiles, s"found: $found")
    assert(found.toMap.get("Tables.scala").contains(Tables.DefaultScratchRoot), s"found: $found")
  }
}
