package graft.sources

/** Scratch dump util (test scope): print the parsed tree of a fixture. */
object DumpHdf5 {
  def main(args: Array[String]): Unit = {
    args.foreach { p =>
      println(s"=== $p")
      try println(NexusTree.toJson(Hdf5Reader.read(p)))
      catch { case e: Throwable => println(s"FAILED: $e") }
    }
  }
}
