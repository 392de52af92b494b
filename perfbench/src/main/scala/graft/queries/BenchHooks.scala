package graft.queries

import java.nio.file.{Path, Paths}

/** The benchmark's view of the artifact cache. It lives in the engine's
  * package because `Artifacts.buildSecs` is package-private there.
  */
object BenchHooks {

  /** Seconds spent building each artifact in this JVM, by artifact dir name. */
  def buildSecs: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    Artifacts.buildSecs.asScala.toMap
  }

  /** Points the artifact cache at `root`. The cache root is a fixed private
    * static final field of `Artifacts`, so it is overwritten through
    * `sun.misc.Unsafe`; the benchmark moves it under its own scratch root so
    * that a run reads and writes only its own files and starts cold. Must
    * run before the first query touches the cache.
    */
  def relocateArtifacts(root: String): Path = {
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    val f = Artifacts.getClass.getDeclaredField("Root")
    val p = Paths.get(root)
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), p)
    f.setAccessible(true)
    require(f.get(Artifacts) == p, s"could not move the artifact cache to $root")
    p
  }
}
