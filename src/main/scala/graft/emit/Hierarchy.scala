package graft.emit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Arbitrary-depth url-path hierarchy — the FOLDER analog. The reference
  * materializes a FOLDER node for EVERY ancestor path segment of every
  * file and chains CONTAINS through them
  * (clangd_symbol_nodes_builder.py:416-424 ancestor derivation, :502-522
  * folder CONTAINS); this is the same derivation over url path prefixes:
  *
  *   https://host/a/b/42  →  prefixes [host, host/a, host/a/b]
  *   root ─contains─► host ─contains─► host/a ─contains─► host/a/b
  *   ─contains─► https://host/a/b/42
  *
  * depth(host) = 1, deeper prefixes +1 per segment; the PROJECT root is
  * depth 0. host (depth 1) carries the SITE label, deeper prefixes
  * SECTION (≙ FOLDER). Everything here is pure column expressions —
  * codegen-friendly, an A3-style explode feeding the A11 depth loop.
  *
  * FROZEN messy-url policy (applied by the native PathPrefixes scan):
  * the query string and fragment are NOT path segments —
  * `https://h/p?x=1/2` must not mint a SECTION node `h/p?x=1`. Real-web
  * corpora carry `?`/`#` on a large fraction of urls; keeping them
  * would explode the SECTION space with per-query-string nodes and
  * pollute the roll-up.
  */
object Hierarchy {

  /** Ancestor prefixes of a url, shallowest first: [host, host/s1, ...,
    * deepest-dir]. The final path segment is the page's own leaf name and
    * is NOT a prefix; a url with no path ("https://host") is its own
    * single-prefix host. prefixes(url)[0] == Extract.site(url) by
    * construction. Native single-scan expression; the specs pin it equal
    * to the declarative shape it replaced,
    * HierarchyReference.prefixesOfSql. */
  def prefixesOf(url: Column): Column =
    graft.functions.PathPrefixes.path_prefixes(url)

  /** The page's direct parent: its deepest ancestor prefix. */
  def parentOf(url: Column): Column = element_at(prefixesOf(url), -1)

  /** (node, parent, depth) rows for every internal node of the hierarchy
    * over `urls` (a one-column "url" frame), INCLUDING the PROJECT root
    * (depth 0, parent null). host rows (depth 1) hang off the root. */
  def internalNodes(urls: DataFrame): DataFrame = {
    val spark = urls.sparkSession
    val pref = urls.select(prefixesOf(col("url")).as("ps"))
    val internal = pref
      .select(posexplode(col("ps")).as(Seq("pos", "node")), col("ps"))
      .select(col("node"),
        when(col("pos") === 0, lit(Emit.RootId))
          .otherwise(element_at(col("ps"), col("pos"))).as("parent"),
        (col("pos") + 1).as("depth"))
      .distinct()
    internal.union(spark.range(1).select(lit(Emit.RootId).as("node"),
      lit(null).cast("string").as("parent"), lit(0).as("depth")))
  }

  /** Distinct (subj, obj) contains edges of the full chain: root → host,
    * consecutive prefixes, deepest prefix → page.
    *
    * Single-exchange shape (round 6, guide §2.4): ONE pass over `urls`
    * builds each url's whole edge chain (root→host, consecutive
    * prefixes, deepest prefix→page) as an array, explodes it, and runs
    * ONE distinct — the previous shape scanned `urls` twice (chain via
    * [[internalNodes]], page edges separately) and paid two distinct
    * exchanges. Distinct-across-the-union ≡ union-of-distincts here:
    * chain edges' objs are scheme-stripped prefixes while a page edge's
    * obj is the raw url, and the q29 oracle itself computes the
    * cross-leg DISTINCT (a collision would already have failed the
    * row-count compare). */
  def containsEdges(urls: DataFrame): DataFrame = {
    // ps is projected into its own column first so the native
    // path_prefixes scan runs once per row — referenced from inside the
    // transform lambda it would re-evaluate per element
    val ps = col("ps")
    val chain = when(size(ps) <= 1,
      array().cast("array<struct<subj:string,obj:string>>"))
      .otherwise(transform(sequence(lit(1), size(ps) - 1),
        k => struct(element_at(ps, k).as("subj"),
          element_at(ps, k + 1).as("obj"))))
    val edges = concat(
      array(struct(lit(Emit.RootId).as("subj"),
        element_at(ps, 1).as("obj"))),
      chain,
      array(struct(element_at(ps, -1).as("subj"), col("url").as("obj"))))
    urls
      .select(prefixesOf(col("url")).as("ps"), col("url"))
      .select(explode(edges).as("e"))
      .select(col("e.subj"), col("e.obj"))
      .distinct()
  }
}
