package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** THE persisted-artifact module. The operators keep their long-lived
  * structures (edge, ANN, text, BPE, LM, corpus and span indexes) as
  * managed, bucketed catalog tables, built once and served to every
  * later query — the reference's whole design is paying a structure's
  * build cost once and serving every later delivery from it
  * (xzchaoo/batchprocessor core/v2/Worker.java:65-73). Every decision
  * about those tables is made here, once:
  *  - [[dropManaged]]: a drop removes the catalog entry AND the
  *    warehouse directory; [[dropTables]] drops tmp twins with their
  *    tables;
  *  - [[bucketsOf]]: a rewrite keeps the catalog's bucket count;
  *  - [[rewriteSession]]: a rewrite reads through the bucketed scan;
  *  - [[swap]]: one crash-safe generation swap, one heal rule;
  *  - [[shared]]: fingerprint-named artifacts, probed on every call,
  *    single flight per name.
  * This is the only file in src/main that renames a table or touches a
  * warehouse location (QueriesSmokeSpec); ArtifactsSpec pins the swap's
  * crash matrix and the lock rule. */
private[graft] object Artifacts {

  /** Drop a managed table's catalog entry AND any stale warehouse
    * location: the directory can outlive the in-memory catalog entry
    * (a warehouse on disk, a session that ended mid-write), and the next
    * saveAsTable then fails with LOCATION_ALREADY_EXISTS. */
  def dropManaged(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** The (tmp, live) pairs [[swap]] takes for `name`'s tables `sfxs`:
    * each live table's tmp twin is `<live>_tmp`. */
  def tmpPairs(name: String, sfxs: Seq[String]): Seq[(String, String)] =
    sfxs.map(x => (name + x + "_tmp", name + x))

  /** Drop `name`'s tables `sfxs` and their tmp twins. A full rebuild
    * starts here: a complete tmp generation that a crashed swap left
    * behind would otherwise be adopted over the rebuild by the next
    * swap's heal, reverting it. A scratch artifact ends here. */
  def dropTables(s: SparkSession, name: String, sfxs: Seq[String]): Unit =
    tmpPairs(name, sfxs).foreach { case (tmp, live) =>
      dropManaged(s, live)
      dropManaged(s, tmp)
    }

  /** The bucket count the catalog records for `table`. A rewrite must
    * keep it: a caller-supplied or guessed count would silently change
    * the layout that later appends' matching bucketBy relies on, so a
    * table without a bucket spec fails loudly instead of defaulting. */
  def bucketsOf(s: SparkSession, table: String): Int =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(sys.error(
        s"$table has no bucketSpec — rewriting it would silently change its layout"))

  /** A child session for rewrites, with autoBucketedScan off. A rewrite
    * must READ each table through its bucketed scan, so the planner sees
    * HashPartitioning(bucketCol, n), drops a redundant repartition, and
    * each write task holds exactly one bucket — one output file per
    * bucket, zero Exchange. With the default autoBucketedScan the planner
    * disables the bucketed scan for a plain scan-to-write plan while
    * still eliding the repartition, and every task then holds a mix of
    * buckets: n_tasks × n_buckets files (measured). The child shares the
    * catalog; the caller's conf is untouched. */
  def rewriteSession(s: SparkSession): SparkSession = {
    val child = s.newSession()
    child.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    child
  }

  /** One crash-safe generation swap. The catalog has no multi-table
    * transaction, so a new generation is written beside the live one and
    * renamed over it. `pairs` lists (tmp, live) tables in rename order;
    * the LAST pair's tmp is the completeness marker, and `write` writes
    * it last. The marker therefore exists exactly while a whole new
    * generation is written and not yet fully swapped in (the final
    * rename consumes it). Three steps:
    *  1. heal: marker present → the previous swap died after its write;
    *     finish it by renaming every surviving tmp over its live table
    *     (they are one generation). Marker absent → any tmp is
    *     half-built and is dropped in step 2; the one exception is a tmp
    *     whose live table is gone, which is the only copy left (a
    *     per-table drop-then-rename swap died between its two
    *     statements) and is adopted;
    *  2. write: drop every tmp, then run `write`, which reads the live
    *     tables and writes the tmps it needs — a pair whose tmp `write`
    *     leaves absent keeps its live table;
    *  3. swap: for each pair in order whose tmp exists, drop the live
    *     table, rename the tmp over it, and refresh it in `caller`, so
    *     the caller's relation cache and any frame it cached over the
    *     table read the new files — a stale entry's next scan throws
    *     FILE_NOT_EXIST.
    * A crash at any point heals, on the next call, to one whole
    * generation: the old one (the marker never landed) or the new one. */
  def swap(caller: SparkSession, pairs: Seq[(String, String)])(write: => Unit): Unit = {
    def exists(t: String) = caller.catalog.tableExists(t)
    val adopt = exists(pairs.last._1)
    pairs.foreach { case (tmp, live) =>
      if (exists(tmp) && (adopt || !exists(live))) rename(caller, tmp, live)
    }
    pairs.foreach { case (tmp, _) => dropManaged(caller, tmp) }
    write
    pairs.foreach { case (tmp, live) =>
      if (exists(tmp)) {
        rename(caller, tmp, live)
        caller.catalog.refreshTable(live)
      }
    }
  }

  private def rename(s: SparkSession, tmp: String, live: String): Unit = {
    dropManaged(s, live)
    s.sql(s"ALTER TABLE `$tmp` RENAME TO `$live`")
  }

  private val building = new ConcurrentHashMap[String, Object]()

  /** A fingerprint-named artifact (`name` embeds the fixture
    * fingerprint), built once and served to every later caller in the
    * process. `tables` are `name`'s suffixes, the last one written last:
    * the artifact is complete when every one exists, so a build that
    * died midway, or a dropped table, is rebuilt on the next call — the
    * catalog is probed on every call. `valid` adds the caller's own
    * layout check. Lock rule (GateMemo's): builds of one name are single
    * flight — concurrent callers wait for the one build, then find it
    * complete — and builds of other names never wait; a build that
    * throws leaves the artifact incomplete, so the next call retries.
    * No eviction: sibling generations (other fixtures, dirs, storage
    * kinds) coexist, since dropping one would break lazily returned
    * frames still reading it; the garbage is bounded by the handful of
    * fixtures a session touches. A build never calls [[GateMemo]]; memo
    * builds may call this (memo key first, never the reverse). */
  def shared(s: SparkSession, name: String, tables: Seq[String],
      valid: => Boolean = true)(build: => Unit): String = {
    building.computeIfAbsent(name, _ => new Object).synchronized {
      if (!(tables.forall(t => s.catalog.tableExists(name + t)) && valid)) build
    }
    name
  }
}
