package graft.store

/** A versioned store's on-disk commit state: its `v*` and `.staging-*`
  * dir names and the pointer file's bytes (empty when absent).
  */
final case class StoreLayout(versions: Set[String], pointer: String)

object StoreLayout {
  def apply(path: String): StoreLayout = {
    val ptr = java.nio.file.Paths.get(path, "CURRENT")
    StoreLayout(
      Option(new java.io.File(path).list()).map(_.toSet).getOrElse(Set.empty[String])
        .filter(n => n.matches("v\\d+") || n.startsWith(".staging-")),
      if (java.nio.file.Files.exists(ptr))
        new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8")
      else "")
  }
}
