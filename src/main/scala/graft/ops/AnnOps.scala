package graft.ops

import graft.functions.VecDot.vec_dot
import graft.util.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force cosine is the exact small-scale baseline (single scan,
  * codegen'd higher-order functions, no shuffle before the final top-k).
  * The scale path is LSH bucketing with random hyperplanes: signature
  * computed per row map-side, candidate retrieval is an equi join on the
  * bucket key, exact re-rank only within buckets.
  */
object AnnOps {

  /** Cosine similarity between an embedding column and a literal query
    * vector, computed in double via the native vec_dot expression
    * (bit-identical to the HOF fold it replaces — OpsReference.dotHof in
    * the specs). */
  def cosineToQuery(emb: Column, query: Array[Float]): Column = {
    val q = lit(query.map(_.toDouble))
    val dot = vec_dot(emb, q)
    val nEmb = sqrt(vec_dot(emb, emb))
    val nQ = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    dot / (nEmb * lit(nQ))
  }

  /** Exact brute-force top-k by cosine (deterministic tie-break on id).
    * TakeOrderedAndProject: per-partition heap + driver merge of k rows —
    * no global sort. */
  def bruteForceTopK(
      df: DataFrame, idCol: String, embCol: String,
      query: Array[Float], k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        round(cosineToQuery(col(embCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)

  /** Deterministic random hyperplane p (dim `d`), seeded. */
  def hyperplane(seed: Long, plane: Int, d: Int): Array[Double] =
    Array.tabulate(d)(i => Det.unit(Det.h(seed, plane.toLong, i.toLong)) * 2.0 - 1.0)

  /** Sign-random-projection bit signature as an int bucket key
    * (nPlanes <= 30). Pure column expression. */
  def srpBucket(emb: Column, seed: Long, nPlanes: Int, d: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val dot = vec_dot(emb, lit(hyperplane(seed, p, d)))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** IVF/LSH-bucketed ANN: probe the query's bucket (plus optionally
    * neighboring buckets at Hamming distance 1) and re-rank exactly.
    * Recall < 1 by construction; `multiProbe` trades cost for recall. */
  def lshTopK(
      df: DataFrame, idCol: String, embCol: String, query: Array[Float],
      k: Int, seed: Long = 42L, nPlanes: Int = 8,
      multiProbe: Boolean = true): DataFrame = {
    val d = query.length
    val bucketed = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      srpBucket(col(embCol), seed, nPlanes, d).as("bucket"))
    val qBucket = (0 until nPlanes).map { p =>
      val dot = hyperplane(seed, p, d).zip(query).map { case (h, x) => h * x }.sum
      if (dot >= 0) 1L << p else 0L
    }.sum
    val probes: Seq[Long] =
      if (multiProbe) qBucket +: (0 until nPlanes).map(p => qBucket ^ (1L << p))
      else Seq(qBucket)
    bucketed.filter(col("bucket").isin(probes: _*))
      .select(col("id"), round(cosineToQuery(col("emb"), query), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  // ----------------------------------------------------------------- IVF

  /** Deterministic unit-norm centroid c of an IVF codebook (seeded — no
    * k-means iterations, so the codebook is reproducible across engines
    * and oracle-checkable; swap in trained centroids in production, the
    * plan shape is identical). */
  def ivfCentroid(seed: Long, cell: Int, d: Int): Array[Double] = {
    val raw = hyperplane(seed ^ 0x1f2e3d4cL, cell, d)
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(_ / n)
  }

  /** Nearest-centroid cell id (argmax dot; ties → lowest cell id) as a
    * pure column expression — map-side assignment, no shuffle. */
  def ivfCell(emb: Column, seed: Long, nCells: Int, d: Int): Column = {
    val scored = (0 until nCells).map { c =>
      val dot = vec_dot(emb, lit(ivfCentroid(seed, c, d)))
      struct(dot.as("dot"), lit(-c).as("ncid"))
    }
    -array_max(array(scored: _*)).getField("ncid")
  }

  /** The nProbe cell ids nearest the query (argmax dot, lowest-cell
    * tie-break) — driver-side over the tiny codebook. */
  def probeCells(
      query: Array[Float], seed: Long, nCells: Int, nProbe: Int): Seq[Long] = {
    val qDots = (0 until nCells).map { c =>
      c -> ivfCentroid(seed, c, query.length)
        .zip(query).map { case (h, x) => h * x }.sum
    }
    qDots.sortBy { case (c, dot) => (-dot, c) }.take(nProbe).map(_._1.toLong)
  }

  /** IVF top-k: assign every vector to its nearest centroid map-side;
    * probe the `nProbe` centroid lists nearest to the query; exact
    * cosine re-rank inside the probed cells only. The inverted lists are
    * an equi filter on a COMPUTED cell id — every probe still scans the
    * full table (the filter runs after the scan). The scale path is the
    * MATERIALIZED index ([[buildIvfIndex]] + [[ivfTopKIndexed]]), where
    * the same filter becomes a partition PRUNE and a query touches
    * nProbe/nCells of the data. Recall < 1 by construction; nProbe
    * trades cost for recall. */
  def ivfTopK(
      df: DataFrame, idCol: String, embCol: String, query: Array[Float],
      k: Int, seed: Long = 42L, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val probes = probeCells(query, seed, nCells, nProbe)
    df.select(col(idCol).as("id"), col(embCol).as("emb"),
        ivfCell(col(embCol), seed, nCells, query.length).as("cell"))
      .filter(col("cell").isin(probes: _*))
      .select(col("id"), round(cosineToQuery(col("emb"), query), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Materialize the IVF inverted lists as a cell-PARTITIONED table —
    * the Spark analog of the reference's persisted vector index
    * (neo4j_manager.py:226-230): one Snapshot-committed parquet table,
    * hive-partitioned by cell id, resumable/idempotent like every other
    * stage. Cell assignment is map-side (no shuffle besides the
    * partitioned write's repartition by cell). */
  /** Stage-version string of a materialized IVF index — the codebook
    * parameters ARE the semantics, so they live in the version (a store
    * committed under different parameters must rebuild, not resume). */
  def ivfVersion(seed: Long, nCells: Int, dim: Int): String =
    s"ivf-v1-s$seed-c$nCells-d$dim"

  /** (id, emb, cell) rows — map-side nearest-centroid assignment. */
  def assignCells(
      df: DataFrame, idCol: String, embCol: String,
      seed: Long, nCells: Int, dim: Int): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("emb"),
      ivfCell(col(embCol), seed, nCells, dim).as("cell"))

  def buildIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      baseDir: String,
      df: DataFrame, idCol: String, embCol: String,
      snapshotId: String,
      seed: Long = 42L, nCells: Int = 16, dim: Int = 64): DataFrame =
    graft.meta.Snapshot.stage(spark, baseDir, "ann_ivf", snapshotId,
      ivfVersion(seed, nCells, dim), Seq("cell")) {
      assignCells(df, idCol, embCol, seed, nCells, dim)
        .repartition(col("cell"))
    }

  /** IVF top-k over the materialized index: the cell filter is a
    * PartitionFilter on the scan (plan-asserted), so only nProbe of the
    * nCells partition directories are read — at cluster scale the
    * difference between touching 25% and 100% of a 10^12-vector table.
    * Same results as [[ivfTopK]] (identical assignment + probes).
    *
    * The probe VALIDATES the store before trusting it: probe cells are
    * computed from the caller's (seed, nCells), so a store committed
    * under different codebook parameters — or a half-written dir with no
    * manifest — would be silently probed with the wrong centroids and
    * return plausible-but-wrong neighbors. The committed manifest's
    * version must equal this probe's [[ivfVersion]] (the build side
    * already rebuilds on mismatch; the read side fails loudly). */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      baseDir: String, query: Array[Float],
      k: Int, seed: Long = 42L, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val want = ivfVersion(seed, nCells, query.length)
    graft.meta.Snapshot.readManifest(s"$baseDir/ann_ivf") match {
      case None => throw new IllegalStateException(
        s"ann_ivf at $baseDir has no committed manifest — the index was " +
          "never built (or a build crashed mid-write); run " +
          "AnnOps.buildIvfIndex / Pipeline.build before probing")
      case Some(m) if m.version != want => throw new IllegalStateException(
        s"ann_ivf at $baseDir was committed under codebook version " +
          s"'${m.version}' but this probe expects '$want' — probing with " +
          "mismatched centroids would silently return wrong neighbors; " +
          "rebuild the index with these (seed, nCells, dim) or probe with " +
          "the committed parameters")
      case Some(_) => ()
    }
    val probes = probeCells(query, seed, nCells, nProbe)
    spark.read.parquet(s"$baseDir/ann_ivf/data")
      .filter(col("cell").isin(probes: _*))
      .select(col("id"), round(cosineToQuery(col("emb"), query), 6).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** All-pairs cosine above a threshold via bucket join (candidates share
    * an SRP bucket) + exact verification — the near-dup-by-embedding op. */
  def cosinePairs(
      df: DataFrame, idCol: String, embCol: String,
      tau: Double, seed: Long = 42L, nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    // round 6: pairs per bucket from ONE exchange of the bucketed
    // stream — the replaced self-join (OpsReference.cosinePairsJoin in
    // the specs, pinned row-identical) computed every
    // SRP signature (nPlanes VecDots/row) twice and exchanged the
    // stream twice. A vector lives in exactly one bucket, so the pair
    // set needs no distinct in either shape; per-bucket fan-out is
    // C(k,2) in one task in both.
    val b = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      srpBucket(col(embCol), seed, nPlanes, dim).as("bucket"))
    val p = b.groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("id"), col("emb")))).as("xs"))
      .select(explode(graft.functions.ArrayPairs.array_pairs(col("xs"))).as("p"))
    val (ea, eb) = (col("p.x.emb"), col("p.y.emb"))
    p.withColumn("cos",
        vec_dot(ea, eb) / (sqrt(vec_dot(ea, ea)) * sqrt(vec_dot(eb, eb))))
      .filter(col("cos") >= tau)
      .select(col("p.x.id").as("id_a"), col("p.y.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }
}
