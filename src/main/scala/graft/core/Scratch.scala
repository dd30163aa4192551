package graft.core

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Write-once scratch directories for derived fixtures (CSV/JSON/ORC/text
  * copies of the test tables, split streaming sources).
  *
  * Root: `<spark.sql.warehouse.dir>/_graft_scratch` ([[root]]) — like
  * checkpoints, staging and snapshots, fixtures live under the session's
  * warehouse, so processes on different warehouses never share them.
  * A name is `<fixture>/<source>` (e.g. `csv/<pathKey>`): the fixture
  * part keeps one derivation's names apart from another's.
  *
  * Keying: `<root>/<name>/<key>` where the key folds together (a) a
  * fingerprint of the SOURCE directory — regenerated data changes it —
  * and (b) a hash of the derivation's SCHEMA (or DDL) — a code change to
  * what gets written changes it. Either change busts the cache, so a
  * `_SUCCESS` guard can never serve stale or mis-shaped fixtures.
  * Generations are scoped in a per-name SUBDIRECTORY so pruning one name
  * can never touch another (under the old flat `<name>_<key>` layout a
  * `_`-prefix sibling — `docs` vs `docs_v2` — was deletable).
  *
  * Pruning: stale sibling generations are deleted only AFTER the new
  * generation's marker exists ([[ensure]]) — pruning at resolve time
  * destroyed the last working generation before the rebuild had
  * succeeded, so a transient write failure left no usable fixture.
  * (Single-writer assumption, per warehouse: one JVM at a time writes a
  * warehouse's scratch root; concurrent processes on ONE warehouse
  * racing the prune would need a lock this deliberately doesn't take.)
  */
object Scratch {

  /** Injective, catalog- and filesystem-safe key for a DATA DIRECTORY:
    * sanitized basename + hash of the full path. Basenames alone
    * collide across parents (/runA/sf0.1 vs /runB/sf0.1 would thrash
    * any write-once cache or table set keyed by them); the hash makes
    * the key unique per actual directory. [A-Za-z0-9_] only, so the
    * key is legal inside table identifiers too. */
  def pathKey(dir: String): String =
    new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_") +
      "_" + sha8(dir)

  def sha8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Key = source-dir fingerprint + derivation-schema hash. */
  def key(spark: SparkSession, srcDir: String, derivation: String): String =
    graft.olist.OlistMaterialized.fingerprint(spark, srcDir).take(12) +
      "-" + sha8(derivation)

  /** The session's scratch root, a local path under its warehouse (a
    * relative warehouse resolves against the working directory, as the
    * session resolves it). */
  def root(spark: SparkSession): Path = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    Paths.get(wh).toAbsolutePath.resolve("_graft_scratch")
  }

  /** Delete every stale sibling generation of `name` (any key but
    * `keep`). Call only once the new generation is proven good.
    */
  private def prune(parent: Path, keep: String): Unit = {
    if (Files.isDirectory(parent)) {
      val it = Files.list(parent)
      try it.iterator().forEachRemaining { p =>
        if (p.getFileName.toString != keep) deleteRecursively(p)
      } finally it.close()
    }
  }

  /** The write-once protocol in one place: resolve the generation dir,
    * run `write` if `marker` (a generation-relative path like
    * `documents/_SUCCESS`) is absent, and prune stale generations only
    * once the marker exists — so a failed rebuild leaves the previous
    * generation intact for the next attempt.
    */
  def ensure(spark: SparkSession, name: String, key: String, marker: String)
      (write: Path => Unit): Path = {
    val gen = root(spark).resolve(name).resolve(key)
    if (!Files.exists(gen.resolve(marker))) write(gen)
    if (Files.exists(gen.resolve(marker))) prune(gen.getParent, key)
    gen
  }

  /** An empty per-run directory `<root>/<name>` (a checkpoint, a
    * staging root): a rerun deletes the previous run's first. */
  def fresh(spark: SparkSession, name: String): Path = {
    val dir = root(spark).resolve(name)
    deleteRecursively(dir)
    Files.createDirectories(dir)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val it = Files.list(p)
      try it.iterator().forEachRemaining(deleteRecursively)
      finally it.close()
    }
    Files.deleteIfExists(p)
  }
}
