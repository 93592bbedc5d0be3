package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{SketchAggs, VectorExprs}
import graft.sources.Lakehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (vec_id, embedding: Array[Float], label).
  *
  *  - sim1: brute-force cosine top-k — the exactness baseline. The query
  *    side (10 vectors) is broadcast, so the "scan side" streams once
  *    with no shuffle of the corpus: exactly the shape a 100 TB corpus
  *    needs (queries broadcast, corpus partition-local scoring, per-query
  *    top-k via partial aggregation in TakeOrdered).
  *  - sim2–sim4c: one IVF pipeline in several configurations — a coarse
  *    quantizer (probe ranking, or none for flat PQ), a fine code (raw
  *    vectors or PQ codes) and an exact rerank. Each [[IndexKind]] is one
  *    configuration, and every IVF query is one [[search]] over the
  *    kind's rows: computed inline from the corpus (sim2, sim3, sim4) or
  *    read from the landed index (sim2b, sim3b, sim4b, sim4c,
  *    [[searchTopk]]). sim2 is fully deterministic; the oracle replays
  *    the identical algorithm.
  */
object Similarity {
  val TopK = 5
  val NumQueries = 10
  val NProbe = 4

  /** Typed refusal for the online-serving surface (VERDICT r14 #1b):
    * thrown by [[searchTopk]] / [[servedTopkAt]] (and therefore
    * [[graft.streaming.ServeStream.serveTopk]]) when the requested
    * index kind has no landed table and the caller did not explicitly
    * allow building. A serve call that silently falls into a
    * corpus-scale index build is an outage at scale, not a
    * convenience — the r14 probe watched exactly that fallback OOM a
    * 64 GB heap at 5M vectors (PROBE_r14_5M_sims). Building stays
    * available explicitly: [[buildIndex]], `searchTopk(...,
    * buildIfMissing = true)`, or [[graft.tools.PreLand]] ahead of
    * serving. */
  final class MissingIndexException(val kind: String, val table: String, val dir: String)
    extends IllegalStateException(
      s"ANN index kind '$kind' for corpus '$dir' is not landed (table `$table`). " +
        "Serving refuses to build a corpus-scale index inline; land it ahead of " +
        "serving with graft.tools.PreLand / Similarity.buildIndex, or pass " +
        "buildIfMissing = true to searchTopk if an inline build is really intended.")

  private def assertLandedForServe(s: SparkSession, d: String, kind: String): Unit = {
    val t = tableOf(kindOf(kind), d)
    if (!Lakehouse.isLanded(s, t))
      throw new MissingIndexException(kind, t, d)
  }

  /** EXPLICITLY build (or re-register) the serving index of `kind` for
    * `d`'s corpus — the build half of the fail-fast serving contract:
    * call this (or [[graft.tools.PreLand]]) at ingest/deploy time, then
    * serve with [[searchTopk]], which refuses rather than building
    * inline. Idempotent: a matching landing re-registers in ~ms. */
  def buildIndex(s: SparkSession, d: String, kind: String): Unit = {
    indexTable(s, d, kindOf(kind)); ()
  }

  /** (vec_id, v, nrm) of raw (vec_id, embedding) rows: the one cast and
    * norm expression of the corpus, its index versions and the dd7
    * stream twin's arriving vectors. */
  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(VectorExprs.dot(col("v"), col("v"))))

  /** Index versions (vec_id, v, nrm, seq) of raw (vec_id, embedding)
    * rows at maintenance sequence number `seq`: the corpus's cast and
    * norm expressions, so served cosines are bit-identical for corpus
    * and appended rows. */
  private[graft] def versionsOf(df: DataFrame, seq: Long): DataFrame =
    withNorm(df).withColumn("seq", lit(seq))

  /** Normalized corpus, memoized per (session, dir): sim1–sim4 each
    * scan the embeddings table 2–3×; one cached columnar copy serves
    * the whole family (at scale: a written normalized table). */
  private val normCache = Memo.newCache[DataFrame]()
  private[graft] def normed(s: SparkSession, d: String): DataFrame =
    Memo.get(normCache, s, d)(Memo.mat(withNorm(Tables.embeddings(s, d))))

  /** `normed` if this session already materialized it, else a LAZY
    * (uncached) scan of the same expressions — identical doubles, but a
    * cold serving path reads only the rows its pushed filters keep
    * instead of paying the full corpus materialization (VERDICT r12 #3:
    * `Memo.mat(normed)` was 89–144 s of the first serve at 20M). */
  private def normedLazy(s: SparkSession, d: String): DataFrame =
    normCache.getOrElse((s, d), withNorm(Tables.embeddings(s, d)))

  /** Whether this session materialized [[normed]] for `d`. */
  private[graft] def corpusCached(s: SparkSession, d: String): Boolean =
    normCache.contains((s, d))

  /** Corpus size, memoized per (session, dir): sizes the shared
    * two-level quantizer for sim2/sim3 and dd7/dd9. Loaded from the
    * quantizer sidecar when one matches the corpus signature — a cold
    * serving session then never scans the corpus for a count; otherwise
    * summed from the embeddings' parquet footers on the driver
    * ([[Tables.rowCount]]: no Spark job, and a cold landing does not
    * materialize [[normed]] just to size K) and persisted. */
  private val nCache = Memo.newCache[Long]()
  private[graft] def corpusN(s: SparkSession, d: String): Long =
    Memo.get(nCache, s, d) {
      QuantizerStore.load(s, d).map(_.n).getOrElse {
        val n = Tables.rowCount(s, d, "embeddings")
        QuantizerStore.update(s, d, n)(identity)
        n
      }
    }

  /** Exact brute-force top-k of the driver-held queries `qs`: one corpus
    * scan with the query batch broadcast. */
  private def bruteTopk(s: SparkSession, d: String, qs: Array[Anchor]): DataFrame =
    cosTopk(normed(s, d).join(broadcast(queryRel(s, qs)), col("vec_id") =!= col("qid")))

  /** The graded queries' exact top-k, memoized: sim1's output and the
    * recall gate of sim3/sim4 — one brute-force pass instead of three.
    * The query norms are the collected ones ([[queryVecs]]), so the
    * cosines are bit-identical to a corpus-side query frame's. */
  private val exactCache = Memo.newCache[DataFrame]()
  private def exactTopk(s: SparkSession, d: String): DataFrame =
    Memo.get(exactCache, s, d)(Memo.mat(bruteTopk(s, d, queryVecs(s, d))))

  /** Driver-held queries as a local relation (qid, qv, qn). */
  private def queryRel(s: SparkSession, qs: Array[Anchor]): DataFrame = {
    import s.implicits._
    qs.toSeq.map(a => (a.id, a.v, a.nrm)).toDF("qid", "qv", "qn")
  }

  /** Per-qid exact top-k of (qid, vec_id) pairs by the cosine of the row
    * vector (v, nrm) and the query vector (qv, qn), via the TopKAgg
    * sketch: map-side partial aggregation keeps k pairs per (qid,
    * partition), so the shuffle carries NumQueries × k pairs instead of
    * every scored row — the row_number window form shuffles the whole
    * scored set. */
  private def cosTopk(pairs: DataFrame, distinctIds: Boolean = false): DataFrame = {
    val agg =
      if (distinctIds) SketchAggs.topkDistinct(col("cos"), col("vec_id"), TopK)
      else SketchAggs.topk(col("cos"), col("vec_id"), TopK)
    pairs.withColumn("cos", VectorExprs.dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .groupBy(col("qid"))
      .agg(agg.as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"))
  }

  /** sim1 — brute-force cosine top-5 for query vectors vec_id < 10. */
  val sim1 = QueryDef(
    "sim1_ann_brute_topk",
    (s, d) => exactTopk(s, d),
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |scored AS (
            |  SELECT a.vec_id AS qid, b.vec_id AS neighbor_id,
            |    row_number() OVER (PARTITION BY a.vec_id
            |                       ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS rank
            |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
            |  WHERE a.vec_id < $NumQueries)
            |SELECT qid, rank, neighbor_id FROM scored WHERE rank <= $TopK""".stripMargin)
  )

  /** sim2 — IVF ANN on the SHARED two-level n-scaled quantizer
    * ([[QuantizerKernel]], the dd7 index): K = max(256, ⌈n/64⌉)
    * fine cells under K1 = ⌈√K⌉ coarse anchors. The corpus is
    * replicated into its Dd7Probes best fine cells (multi-assignment —
    * dd7's recall trick, here covering cell-boundary neighbors);
    * queries probe their max(NProbe, K1) best fine cells. Per-query
    * scored rows ≈ nprobe · Dd7Probes · cell-size ≈ √K·3·64 —
    * SUBLINEAR in n (the previous fixed-16-anchor form scored
    * NProbe/16 of the corpus per query, i.e. linear — VERDICT r8).
    * At the K = 256 floor (every graded fixture) the coarse
    * restriction is inactive (Dd7CoarseProbes = 16 = K1 probes every
    * coarse cell), so ranking is bit-identical to a flat K-anchor scan.
    *
    * sim2 is sim2b over inline rows: the prefix kind's row rule over the
    * corpus (one narrow pass of the quantizer kernel's map, the rows its
    * landing writes) is searched exactly as the landed index is — the
    * NumQueries queries rank √K deep on the driver with the same kernel,
    * the probed cells' rows join the broadcast probe pairs, and each
    * pair's cosine is computed off the row's own vector. A vector sharing
    * several probed cells with a query scores identically in each, and
    * the top-k sketch keeps one (topkDistinct), so the answer is the
    * distinct-candidate top-k the oracle computes. Per-vector ranking is
    * independent, so the corpus's Dd7Probes-deep placement and the
    * queries' √K-deep probing are bit-identical to slicing one deep
    * ranking. Fully deterministic ((cos DESC, id ASC) everywhere —
    * TopKAgg order), so the oracle replays the identical algorithm in
    * DuckDB (twoLevelRankedSql, shared verbatim with dd7/dd9) and the
    * driver hash-grades the approximate operator directly. */
  val sim2 = QueryDef(
    "sim2_ann_ivf_topk",
    (s, d) => inlineTopkAt(s, d, "prefix", sqrtKNprobe(s, d)),
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |${Dedup.twoLevelRankedSql(s"greatest($NProbe, ${Dedup.Dd7CoarseSql})")},
            |assigned AS (SELECT vec_id, cell FROM ranked WHERE r <= ${Dedup.Dd7Probes}),
            |probes AS (SELECT vec_id AS qid, cell FROM ranked WHERE vec_id < $NumQueries),
            |cand AS (
            |  SELECT DISTINCT p.qid, a.vec_id
            |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid),
            |scored AS (
            |  SELECT c.qid, c.vec_id AS neighbor_id,
            |    row_number() OVER (PARTITION BY c.qid
            |      ORDER BY list_cosine_similarity(s.v, q.v) DESC, c.vec_id) AS rank
            |  FROM cand c JOIN e s ON c.vec_id = s.vec_id JOIN e q ON c.qid = q.vec_id)
            |SELECT qid, rank, neighbor_id FROM scored WHERE rank <= $TopK""".stripMargin),
    doc = "two-level n-scaled IVF ANN (dd7's quantizer): deterministic — oracle replays the same algorithm"
  )

  /** The CAP on the bucket count of the landed cell-bucketed index
    * tables (prefix, k-means, IVF-PQ and flat PQ, whose cell is the
    * vec_id). Each landing passes the bytes it writes, and
    * [[graft.sources.Lakehouse.bucketLayout]] sizes it at one bucket per
    * 64 MB up to this cap: a 20k-vector prefix index (~33 MB)
    * is one bucket, written by one task and scanned by one task, and a
    * 5M-vector one (~8 GB) keeps 16 buckets × 8 splits. Past the cap,
    * files grow with index bytes / buckets — the 40M landing's ~300 MB
    * bucket files are where the serve-floor read-amplification was
    * measured (SERVEPROF_r17_40M). The count lands in each table's
    * bucket spec and marker and stays there: a maintained table keeps
    * its landing's count until it is re-landed, so a table that grows
    * past 16 × 64 MB only through appends is a re-land decision, not
    * something a compaction changes. */
  private[graft] val IndexBuckets: Int = 16

  /** Collision-resistant table suffix — same reasoning as
    * Relational.bucketedFacts (ADVICE r8). */
  private def dirSuffix(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** An ANN index kind — one configuration of the IVF pipeline: a landed
    * table bucketed and sorted on `cell`, so a query's cost is its probed
    * cells' rows, not the corpus (flat PQ probes every row; its `cell`
    * is the vec_id). The landing, the catch-up after maintenance began
    * and each maintenance append all write the kind's ONE row rule, and
    * every search reads rows of that rule:
    *  - `table`: the table name's prefix (the corpus dir's hash follows);
    *  - `fingerprint`: what the landed bytes depend on, given the corpus
    *    dir and size n — a mismatch re-lands ([[Lakehouse.landBucketed]]);
    *  - `bytes`: the bytes a landing of n vectors writes ([[IndexBuckets]]);
    *  - `rows`: the row rule — the kind's index rows of versions (vec_id,
    *    v, nrm, seq) under the FROZEN quantizer (standard IVF add
    *    semantics: appended rows extend the table under the same cells,
    *    so the fingerprint stays valid);
    *  - `landing`: what a (re-)landing writes — the row rule over
    *    [[landingVersions]], or (IVF-PQ) the prefix rows projected;
    *  - `probes`: the coarse axis — each query's `nprobe` best cells,
    *    ranked on the driver ((qid, cell) pairs, best first); None: no
    *    coarse axis, every row is probed;
    *  - `score`: the fine-code axis — the per-qid top-k of the probed
    *    rows, given the probe pairs, the queries and the depth of the
    *    shortlist an approximate code re-ranks ([[shortlistDepth]]). */
  private final case class IndexKind(
      name: String, table: String,
      fingerprint: (String, Long) => String,
      bytes: (SparkSession, String, Long) => Long,
      rows: (SparkSession, String, DataFrame) => DataFrame,
      landing: (SparkSession, String) => DataFrame,
      probes: Option[(SparkSession, String, Int, Array[Anchor]) => Array[(Long, Long)]],
      score: (SparkSession, String, DataFrame, Option[Array[(Long, Long)]], Array[Anchor], Int) => DataFrame)

  /** The raw-vector scorer: exact cosines off the probed cells' rows'
    * own vectors (every raw-vector kind has a coarse axis). */
  private def rawScore(
      s: SparkSession, d: String, rows: DataFrame, probes: Option[Array[(Long, Long)]],
      qs: Array[Anchor], candK: Int): DataFrame =
    serveTopk(s, rows, probes.get, qs)

  private val PrefixKind = IndexKind("prefix", "graft_ann_index_",
    (d, n) => s"annidx|v2|$d|n=$n|k=${Dedup.dd7AnchorCount(n)}|p=${Dedup.Dd7Probes}",
    vectorIndexBytes, prefixRows, prefixIndexLandingFrame, Some(prefixProbes _), rawScore)
  private val KmKind = IndexKind("kmeans", "graft_ann_km_index_",
    (d, n) => s"kmidx|v2|$d|n=$n|k=${math.min(Dedup.dd7AnchorCount(n), TrainSample.toLong)}" +
      s"|it=$KmeansIters|ts=$TrainSample|p=${Dedup.Dd7Probes}",
    vectorIndexBytes, kmRows, (s, d) => kmRows(s, d, landingVersions(s, d)),
    Some((s, d, nprobe, qs) => probesOf(kmLocal(s, d)._1, nprobe, qs)), rawScore)
  // n · Dd7Probes rows (cell, vec_id, codes, seq): PqM int codes + ~32 B
  private val IvfPqKind = IndexKind("ivfpq", "graft_ann_ivfpq_",
    (d, n) => s"ivfpq|v2|$d|n=$n|k=${Dedup.dd7AnchorCount(n)}|p=${Dedup.Dd7Probes}" +
      s"|m=$PqM|kc=$PqK|it=$PqIters|ts=$TrainSample",
    (_, _, n) => n * Dedup.Dd7Probes * (4L * PqM + 32L),
    (s, d, versions) => pqRows(s, d, prefixRows(s, d, versions)), ivfPqLandingFrame,
    Some(prefixProbes _), codeScore)
  // n rows (cell = vec_id, vec_id, codes, seq), no coarse axis: PqM int codes + ~32 B
  private val PqKind = IndexKind("pq", "graft_ann_pq_codes_",
    (d, n) => s"pqcodes|v3|$d|n=$n|m=$PqM|kc=$PqK|it=$PqIters|ts=$TrainSample",
    (_, _, n) => n * (4L * PqM + 32L),
    flatPqRows, (s, d) => flatPqRows(s, d, landingVersions(s, d)), None, codeScore)
  private val Kinds = Seq(PrefixKind, KmKind, IvfPqKind, PqKind)

  /** The one IVF search: kind `k`'s probes of `qs` at depth `nprobe`,
    * then its scorer over `rows` — the landed, tombstone-masked index
    * ([[servedIndex]]) or the kind's row rule over the corpus computed
    * inline. A kind with no coarse axis probes at depth 0. */
  private def search(
      s: SparkSession, d: String, k: IndexKind, rows: DataFrame, nprobe: Int,
      qs: Array[Anchor], rerankPerProbe: Int = DefaultRerankPerProbe): DataFrame =
    k.score(s, d, rows, k.probes.map(_(s, d, nprobe, qs)), qs,
      shortlistDepth(k.probes.fold(0)(_ => nprobe), rerankPerProbe))

  private def kindOf(name: String): IndexKind = Kinds.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown index kind: $name"))

  private def tableOf(k: IndexKind, d: String): String = k.table + dirSuffix(d)

  /** Land (or re-register) kind `k`'s index for `d`'s corpus and return
    * its catalog table name — the handle [[graft.streaming.IndexIngest]]
    * appends into. A later JVM finding the fingerprint-stamped landing
    * registers it: the by-name landing frame (and the quantization behind
    * it) never runs. Only the catalog entry is resolved: no tombstone
    * mask is built ([[servedIndex]] does that per serve). */
  private def indexTable(s: SparkSession, d: String, k: IndexKind): String = {
    val n = corpusN(s, d)
    val t = tableOf(k, d)
    Lakehouse.landBucketed(s, t, Seq("cell"), IndexBuckets, k.fingerprint(d, n),
      k.bytes(s, d, n))(k.landing(s, d))
    t
  }

  /** The prefix index's table, landed first if absent. */
  private[graft] def prefixIndexTable(s: SparkSession, d: String): String =
    indexTable(s, d, PrefixKind)

  /** (kind, table) of every index kind LANDED for `d` before this call,
    * the prefix index first — re-registered, never freshly landed: the
    * kinds a maintenance batch extends. A kind landed later catches up at
    * its landing instead. One marker check per kind on the driver: no
    * Spark job. */
  private[graft] def landedKinds(s: SparkSession, d: String): Seq[(String, String)] =
    Kinds.filter(k => Lakehouse.isLanded(s, tableOf(k, d))).map(k => k.name -> indexTable(s, d, k))

  /** Drop every ANN landing of `d`'s corpus — each kind's table, their
    * sidecars and the quantizer sidecar, all named by the dir's hash —
    * and forget what `s` memoized for `d`: the cleanup of a caller that
    * deletes the corpus it landed. */
  private[graft] def dropLandings(s: SparkSession, d: String): Unit = {
    val sfx = dirSuffix(d)
    val tables = Kinds.map(tableOf(_, d))
    tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
    val wh = new java.io.File(s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_ann_") && f.getName.contains(sfx)).foreach(Lakehouse.rmTree)
    tables.foreach(Lakehouse.tombstoneMap(s, _)) // an emptied sidecar drops its driver-held map
    Memo.forget(s, d)
  }

  /** Kind `kind`'s index rows of `versions` (vec_id, v, nrm, seq). */
  private[graft] def indexRows(s: SparkSession, d: String, kind: String, versions: DataFrame): DataFrame =
    kindOf(kind).rows(s, d, versions)

  /** The frame a landing of kind `kind` writes. */
  private[graft] def landingFrame(s: SparkSession, d: String, kind: String): DataFrame =
    kindOf(kind).landing(s, d)

  /** Kind `k`'s serving index, tombstone-masked. NOT DataFrame-memoized
    * (unlike the corpus-side frames): a held Dataset pins the relation's
    * file listing at resolution time, so a serve through it can miss rows
    * a later [[graft.streaming.IndexIngest]] micro-batch appended
    * (observed: refreshTable did not un-pin the held plan). Re-resolving
    * per serve costs one marker read + catalog lookup (~ms) and is what a
    * serving node must do anyway against a maintained index. */
  private def servedIndex(s: SparkSession, d: String, k: IndexKind = PrefixKind): DataFrame = {
    val t = indexTable(s, d, k)
    Lakehouse.maskTombstones(s, t, s.table(t), "vec_id")
  }

  /** The corpus as index versions (vec_id, v, nrm, seq = 0), lazily. */
  private def corpusVersions(s: SparkSession, d: String): DataFrame =
    normedLazy(s, d).withColumn("seq", lit(0L))

  /** Prefix index rows (cell, vec_id, v, nrm, seq) of `versions`: each
    * version in its Dd7Probes cells under the frozen prefix quantizer
    * ([[prefixCells]]), its vector and seq beside the cell. */
  private def prefixRows(s: SparkSession, d: String, versions: DataFrame): DataFrame =
    prefixCells(s, d, versions).select(col("cell"), col("vec_id"), col("v"), col("nrm"), col("seq"))

  /** The corpus-only landing frame of the prefix serving index: one
    * narrow pass of the corpus scan through the quantizer kernel's
    * per-partition map, no join and no exchange before the staged write
    * (MatCutPlanAuditSpec pins the plan). */
  private[graft] def prefixIndexLandingFrame(s: SparkSession, d: String): DataFrame =
    prefixRows(s, d, corpusVersions(s, d))

  /** Bytes a vector-carrying index landing writes: n · Dd7Probes rows
    * (cell, vec_id, v, nrm, seq) of ~8d + 32 B. Sizes the prefix and
    * k-means landings ([[IndexBuckets]]). */
  private def vectorIndexBytes(s: SparkSession, d: String, n: Long): Long =
    n * Dedup.Dd7Probes * (8L * corpusDim(s, d) + 32L)

  /** Whether maintenance has ever applied a batch to `d`'s prefix
    * index — landed AND at least one issued seq. Gates the catch-up
    * landing so a never-maintained corpus (every graded fixture, every
    * fresh probe) lands exactly the plain corpus-only pass. */
  private def prefixMaintained(s: SparkSession, d: String): Boolean = {
    val t = tableOf(PrefixKind, d)
    Lakehouse.isLanded(s, t) && Lakehouse.readCommits(s, t)._2 > 0
  }

  /** The versions a k-means or flat-PQ (re-)landing places: the corpus
    * at seq 0, or — once the prefix index is maintained — its live
    * versions, so deleted ids stay out and upserted ids land at their
    * live seq (liveness is read from the masked table, so it holds after
    * compactions too). */
  private def landingVersions(s: SparkSession, d: String): DataFrame =
    if (prefixMaintained(s, d)) prefixVersions(s, d, 0L).get else corpusVersions(s, d)

  /** Live versions (vec_id, v, nrm, seq) with seq ≥ `from` in `d`'s
    * tombstone-masked prefix index, one row per version (a batch that
    * carries an id twice lands two versions at one seq) — or None when
    * the prefix index was never landed (⇒ no maintenance ever ran). The
    * catch-up landing places every live version (from = 0); the flat-PQ
    * re-rank fetches appended vectors beside the corpus parquet
    * (from = 1), where only appended files hold seq > 0 rows, so the
    * filter prunes corpus files via row-group stats. */
  private def prefixVersions(s: SparkSession, d: String, from: Long): Option[DataFrame] =
    if (!Lakehouse.isLanded(s, tableOf(PrefixKind, d))) None
    else Some(servedIndex(s, d).filter(col("seq") >= from)
      .select(col("vec_id"), col("v"), col("nrm"), col("seq")).distinct())

  /** A quantizer anchor held driver-side: (id, vector, norm). Norms are
    * collected from the distributed frames (never recomputed) so local
    * and distributed ranking see bit-identical doubles. */
  private[graft] final case class Anchor(id: Long, v: Array[Double], nrm: Double)

  private[graft] def anchorOf(r: org.apache.spark.sql.Row) =
    Anchor(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))

  /** The NumQueries query vectors, driver-resident (memoized — 10 rows;
    * [[normedLazy]]: on a cold session the vec_id filter pushes into
    * the parquet scan instead of forcing the corpus materialization). */
  private val qVecsCache = Memo.newCache[Array[Anchor]]()
  private def queryVecs(s: SparkSession, d: String): Array[Anchor] =
    Memo.get(qVecsCache, s, d) {
      normedLazy(s, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("v"), col("nrm")).collect()
        .map(anchorOf).sortBy(_.id)
    }

  /** Embedding dimension, driver-resident (off the memoized query
    * vectors — a 10-row pushed-filter read at worst, no corpus job):
    * sizes the index landings and checks the quantizer's broadcast
    * bound ([[Dedup.BroadcastFineMaxBytes]]) without probing a possibly
    * un-materialized frame with a Spark job (ADVICE r16). */
  private[graft] def corpusDim(s: SparkSession, d: String): Int =
    queryVecs(s, d).headOption.map(_.v.length).getOrElse(0)

  /** The prefix quantizer as one driver-resident [[QuantizerKernel]]
    * ([[QuantizerKernel.prefix]] over the lazy corpus: no corpus cache),
    * memoized. FROZEN at first use — maintenance assigns appended
    * vectors under exactly the anchors the landing used. */
  private val kernelCache = Memo.newCache[QuantizerKernel]()
  private[graft] def prefixKernel(s: SparkSession, d: String): QuantizerKernel =
    Memo.get(kernelCache, s, d)(QuantizerKernel.prefix(normedLazy(s, d), corpusN(s, d), corpusDim(s, d)))

  private val kernelBcCache =
    Memo.newCache[org.apache.spark.broadcast.Broadcast[QuantizerKernel]]()

  /** The prefix assignment of `e` (vec_id, v, nrm[, seq]): (cell,
    * vec_id, v, nrm[, seq], r) at Dd7Probes depth — the one placement
    * primitive behind the prefix and IVF-PQ row rules (landing,
    * maintenance batches, sim2's inline rows) and dd7/dd9's pair mining
    * ([[Dedup.ivfPairs]]): ONE narrow per-partition map under the
    * broadcast kernel (no join, no exchange). */
  private[graft] def prefixCells(s: SparkSession, d: String, e: DataFrame): DataFrame = {
    val bc = Memo.get(kernelBcCache, s, d)(s.sparkContext.broadcast(prefixKernel(s, d)))
    QuantizerKernel.cells(e, bc, Dedup.Dd7Probes)
  }

  /** The distinct cell ids of (qid, cell) probe pairs. */
  private def cellsOf(probes: Array[(Long, Long)]): Seq[Long] = probes.map(_._2).distinct.toSeq

  /** (qid, cell) probe pairs: each query's `nprobe` best cells under
    * `kernel`, best first. */
  private def probesOf(kernel: QuantizerKernel, nprobe: Int, qs: Array[Anchor]): Array[(Long, Long)] =
    qs.flatMap(q => kernel.rank(q.v, q.nrm, nprobe).map(c => (q.id, c)))

  /** Driver-local probe ranking against the resident prefix quantizer
    * — the serving-node path (FAISS keeps its quantizer resident; so do
    * we) and sim2's query ranking: ZERO distributed jobs once the kernel
    * is held. */
  private def prefixProbes(
      s: SparkSession, d: String, nprobe: Int, qs: Array[Anchor]): Array[(Long, Long)] =
    probesOf(prefixKernel(s, d), nprobe, qs)

  /** The raw-vector scorer's top-k over cell-sorted index rows `idx` —
    * a landed cell-bucketed index or the same rows computed inline —
    * given the locally-ranked probe list. The probe pairs — NumQueries
    * × nprobe ≈ 10·√K, the same bounded-by-construction size as the
    * k-means TrainSample — are used two ways: the distinct cell ids
    * push into the index scan as an In filter (bucket pruning +
    * row-group stats skip every unprobed cell), and the (qid, cell)
    * pairs, each carrying its query's vector and norm, become ONE
    * broadcast local relation for the candidate join (one broadcast,
    * not a probe one plus a query one).
    *
    * The serving job is ONE scan and ONE exchange: the index rows
    * already carry their vectors co-located with the cell id, so
    * candidates score map-side directly off the cell join (no
    * candidate-fetch join), and the duplicate offers a multi-assigned
    * pair produces (identical (cos, id) from identical doubles) are
    * deduped INSIDE the top-k sketch (topkDistinct) — the shuffle
    * carries k pairs per (qid, partition), never candidate ids or
    * vectors (ADVICE r10: the old distinct() hashed the vector payload
    * through an extra exchange). */
  private def serveTopk(
      s: SparkSession, idx: DataFrame,
      probeRows: Array[(Long, Long)],
      qs: Array[Anchor]): DataFrame = {
    import s.implicits._
    // the query vectors ride the probe pairs from the driver-resident
    // anchors — collected from the same normed frame for the graded
    // queries (identical doubles), arbitrary caller vectors for
    // searchTopk
    val byId = qs.map(a => a.id -> a).toMap
    val probes = probeRows.toSeq.map { case (qid, cell) =>
      val a = byId(qid)
      (qid, cell, a.v, a.nrm)
    }.toDF("qid", "cell", "qv", "qn")
    cosTopk(idx.filter(col("cell").isin(cellsOf(probeRows): _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid")), distinctIds = true)
  }

  /** sim2b — sim2 SERVED from the persisted index: the same search at
    * the same depth, so an identical result (same DuckDB oracle), but the
    * rows are read from the one-time [[servedIndex]] landing instead of
    * being recomputed, and the scan touches ONLY the probed cells. The
    * probed cell-id list is bounded (NumQueries · nprobe ≈ 10·√K ids —
    * 160 at the graded SFs, ~1.8k at 2M vectors, ~40k at 10⁹) and is
    * pushed into the scan as an In filter, where bucket pruning +
    * parquet row-group stats (the table is sorted on cell) skip every
    * unprobed cell — per-query I/O ∝ probed cells, not corpus size. */
  val sim2b = QueryDef(
    "sim2b_ann_ivf_served",
    (s, d) => servedTopkAt(s, d, "prefix", sqrtKNprobe(s, d), buildIfMissing = true),
    sim2.oracle, // identical assignment + scoring by construction
    doc = "sim2 served from the persisted cell-bucketed index: probed-cells-only scan"
  )

  val KmeansIters = 3
  val RecallGate = 0.6

  /** Bounded deterministic training sample: the vec_id-prefix of the
    * corpus (= the full corpus at test SFs; a fixed-size sample at
    * scale). Codebook/centroid training is the one ANN stage that must
    * NOT be corpus-proportional — like Spark MLlib's KMeans, which
    * collects the centers to the driver every iteration, Lloyd runs on
    * the driver over this bounded sample and only the trained result
    * broadcasts back. That collapses 2 shuffles + a checkpoint per
    * iteration into one collect job total, and makes the centroids
    * fully deterministic (fixed summation order) instead of
    * float-summation-order sensitive. Rows: (vec_id, v, nrm). */
  val TrainSample = 4096

  private val sampleCache = Memo.newCache[Array[(Long, Array[Double], Double)]]()
  private def trainSample(s: SparkSession, d: String): Array[(Long, Array[Double], Double)] =
    Memo.get(sampleCache, s, d) {
      normedLazy(s, d).filter(col("vec_id") < TrainSample)
        .select(col("vec_id"), col("v"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
    }

  /** Driver-side Lloyd over the bounded sample. `score(v, c)` picks the
    * centroid maximizing score (ties → lowest cid, matching the
    * distributed form's max_by(cid, struct(score, -cid))); re-estimate
    * is the plain per-dimension mean of assigned vectors; clusters that
    * lose all members drop out (exactly what the groupBy form did). */
  private def lloyd(
      vecs: Array[Array[Double]], k: Int, iters: Int,
      score: (Array[Double], Array[Double]) => Double): Array[(Int, Array[Double])] = {
    val dim = vecs.head.length
    var cents: Array[(Int, Array[Double])] =
      vecs.take(k).zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Double]]
      val counts = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      for (v <- vecs) {
        var best = -1; var bs = Double.NegativeInfinity
        for ((cid, cv) <- cents) {
          val sc = score(v, cv)
          if (sc > bs) { bs = sc; best = cid } // ascending cid scan → lowest cid wins ties
        }
        val acc = sums.getOrElseUpdate(best, new Array[Double](dim))
        var i = 0; while (i < dim) { acc(i) += v(i); i += 1 }
        counts(best) = counts.getOrElse(best, 0L) + 1
      }
      cents = sums.toArray.sortBy(_._1).map { case (cid, sm) =>
        (cid, sm.map(_ / counts(cid)))
      }
    }
    cents
  }

  private def dotA(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Trained k-means centroids, memoized per (session, dir): Lloyd is
    * deterministic (fixed iteration order over the sorted sample, fixed
    * init = first k sample vectors), so the trained cells are a pure
    * function of (dir, k, iters) — which is what lets a LANDED k-means
    * index ([[kmRows]]) be revalidated by fingerprint in a later
    * session without retraining drift. */
  private val kmCache = Memo.newCache[Array[(Int, Array[Double])]]()
  private[graft] def kmCentroids(s: SparkSession, d: String): Array[(Int, Array[Double])] =
    Memo.get(kmCache, s, d) {
      QuantizerStore.load(s, d).flatMap(_.km).getOrElse {
        val k = math.min(Dedup.dd7AnchorCount(corpusN(s, d)), TrainSample.toLong).toInt
        val r = lloyd(trainSample(s, d).map(_._2), k, KmeansIters,
          (v, c) => dotA(v, c) / (math.sqrt(dotA(v, v)) * math.sqrt(dotA(c, c))))
        QuantizerStore.update(s, d, corpusN(s, d))(_.copy(km = Some(r)))
        r
      }
    }

  /** The trained quantizer as a driver-resident [[QuantizerKernel]]:
    * coarse = the first K1 = ⌈√k⌉ surviving centroids, every centroid
    * tagged to its nearest coarse member. Everything is ≤ TrainSample
    * rows, so the whole quantizer lives on the driver (sim3/sim3b's
    * probe ranking) and ships as one broadcast ([[kmAssignFrame]]).
    * Norms use `dotA`'s ascending loop, VectorExprs.dot's arithmetic.
    * `QuantizerKernelSpec` holds its placement to the DataFrame
    * reference, `graft.QuantizerReference` under src/test. */
  private def kmLocal(s: SparkSession, d: String): (QuantizerKernel, Int) = {
    val trained = kmCentroids(s, d)
    val k1 = Dedup.dd7CoarseCount(trained.length.toLong).toInt
    val all = trained.map { case (i, v) => Anchor(i.toLong, v, math.sqrt(dotA(v, v))) }
    (QuantizerKernel(all.take(k1), all), k1)
  }

  /** sim3/sim3b's probe depth: max(NProbe, K1) of the trained quantizer. */
  private def kmNprobe(s: SparkSession, d: String): Int = math.max(NProbe, kmLocal(s, d)._2)

  private val kmKernelBcCache =
    Memo.newCache[org.apache.spark.broadcast.Broadcast[QuantizerKernel]]()

  /** Placement of `e` (vec_id, v, nrm) under the FROZEN trained k-means
    * quantizer: (cell, vec_id, v, nrm, r) at Dd7Probes depth — the
    * prefix placement's narrow per-partition map
    * ([[QuantizerKernel.cells]]) over the k-means kernel, broadcast once
    * per (session, dir). The km landing, each maintenance append and
    * sim3's inline rows place through it. */
  private[graft] def kmAssignFrame(s: SparkSession, d: String, e: DataFrame): DataFrame =
    QuantizerKernel.cells(e,
      Memo.get(kmKernelBcCache, s, d)(s.sparkContext.broadcast(kmLocal(s, d)._1)),
      Dedup.Dd7Probes)

  /** Recall-gate tail shared by the trained-index queries (sim3/sim4
    * and their served twins): per-qid ok = recall@TopK ≥ RecallGate vs
    * the memoized exact answer. Trained centroids/codebooks are
    * float-summation-order sensitive, so the driver oracle gates recall
    * instead of replaying the assignment. */
  private def recallGate(s: SparkSession, d: String, approxTopk: DataFrame): DataFrame =
    approxTopk
      .join(exactNeighbors(s, d).withColumn("hit", lit(1)), Seq("qid", "neighbor_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("matched"))
      .select(col("qid"),
        (col("matched") >= math.ceil(TopK * RecallGate).toInt).cast("int").as("ok"))

  /** sim3 — IVF with k-means-refined centroids: sim2 with another
    * kernel. Centroid count scales with the corpus (k = min(max(256,
    * ⌈n/64⌉), TrainSample) — you cannot train more centroids than
    * sample points; past n ≈ 64·TrainSample the untrained prefix
    * quantizer (sim2/dd7) is the designated path), Lloyd runs on the
    * driver over the bounded sample (deterministic init = the first k
    * sample vectors), and the trained set is ranked two-level like the
    * prefix one ([[kmLocal]]). sim3 is sim3b over inline rows: the
    * k-means kind's row rule over the corpus ([[kmRows]], the kernel's
    * narrow map at Dd7Probes depth) is searched as sim2's rows are — the
    * NumQueries queries rank max(NProbe, K1) deep on the driver with the
    * same kernel, and the probed cells' rows score exactly. Unlike
    * sim2's prefix anchors the trained centroids are
    * float-summation-order sensitive, so the driver oracle is a recall
    * GATE rather than a replay: per-qid ok = recall@5 ≥ 0.6 vs the
    * exact answer (wide margin measured). */
  val sim3 = QueryDef(
    "sim3_ann_ivf_kmeans",
    (s, d) => recallGate(s, d, inlineTopkAt(s, d, "kmeans", kmNprobe(s, d))),
    Some("SELECT CAST(vec_id AS BIGINT) AS qid, 1 AS ok FROM embeddings WHERE vec_id < 10"),
    doc = "k-means IVF (n-scaled k, two-level routing): recall-gated vs sim1"
  )

  /** k-means index rows (cell, vec_id, v, nrm, seq) of `versions`
    * (vec_id, v, nrm, seq): each version in its Dd7Probes cells under the
    * FROZEN trained quantizer ([[kmAssignFrame]]), seq riding the kernel
    * map. The one placement of the k-means index (the sim3 analog of the
    * prefix index): the landing places [[landingVersions]]; each
    * maintenance batch places its versions.
    * Valid across sessions because training is deterministic (see
    * [[kmCentroids]]); the fingerprint re-lands on any corpus or formula
    * change. */
  private def kmRows(s: SparkSession, d: String, versions: DataFrame): DataFrame =
    kmAssignFrame(s, d, versions).select(col("cell"), col("vec_id"), col("v"), col("nrm"), col("seq"))

  /** sim3b — sim3 SERVED from the persisted k-means index: the same
    * search, its rows (the linear-in-n stage) read from the one-time
    * k-means index landing ([[kmRows]]); a query's cost is probed cells only
    * (same serving plan as sim2b — In-filter → bucket pruning +
    * row-group skip). Recall-gated like sim3: the landed cells ARE
    * sim3's cells, placed by the same kernel. */
  val sim3b = QueryDef(
    "sim3b_ann_kmeans_served",
    (s, d) => recallGate(s, d,
      servedTopkAt(s, d, "kmeans", kmNprobe(s, d), buildIfMissing = true)),
    sim3.oracle,
    doc = "sim3 served from the persisted k-means cell-bucketed index: probed-cells-only scan"
  )

  val PqM = 16       // subspaces
  val PqSubDim = 4   // 64 dims / 16 subspaces
  val PqK = 16       // centroids per subspace (4-bit codes)
  val PqIters = 3
  val ReRankFactor = 50
  /** ivfpq exact-re-rank shortlist per probed cell (candK =
    * rerankPerProbe · nprobe, floored at ReRankFactor·k): the serving
    * depth/cost knob VERDICT r13 #3 asked to surface. Measured at the
    * 100× probe (RECALL_r13): 20 holds recall flat at the nprobe=1
    * level, 60 captures the rise to 1.0 at ~⅓-of-scored re-rank cost,
    * 250 reaches 1.0 from depth 14 at ~3× serve cost. Callers pick the
    * (recall, latency) point per workload via [[searchTopk]] /
    * [[graft.streaming.ServeStream.serveTopk]]; RECALL_r14 maps the
    * frontier. */
  val DefaultRerankPerProbe = 60

  /** PQ codebooks trained on the driver over the bounded sample
    * (memoized): unit vectors sliced into PqM sub-vectors, Lloyd per
    * subspace (assign by min L2 ⇔ max (dot(sv,cv) - |cv|²/2), mean
    * re-estimate, init = sub-vectors of the first PqK sample vectors).
    * Deterministic like [[kmCentroids]] — a landed code table from a
    * previous session encodes against these exact codebooks. */
  private val pqCache = Memo.newCache[Seq[(Int, Int, Array[Double])]]()
  private[graft] def pqCodebooks(s: SparkSession, d: String): Seq[(Int, Int, Array[Double])] =
    Memo.get(pqCache, s, d) {
      QuantizerStore.load(s, d).flatMap(_.pq).getOrElse {
        val sampleU = trainSample(s, d).map { case (_, v, nrm) => v.map(_ / nrm) }
        val r = (0 until PqM).flatMap { m =>
          val sv = sampleU.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
          lloyd(sv, PqK, PqIters, (v, c) => dotA(v, c) - dotA(c, c) / 2)
            .map { case (cid, cv) => (m, cid, cv) }
        }
        QuantizerStore.update(s, d, corpusN(s, d))(_.copy(pq = Some(r)))
        r
      }
    }

  /** The whole-row PQ encode as one codegen'd expression over (v, nrm)
    * — [[graft.functions.PqEncodeCodes]] holding this corpus's frozen
    * codebooks (serialized with the plan: M·K·subDim doubles, KBs). The
    * encode is scan-bound: the M-element code array is computed inside
    * whole-stage codegen, with no exchange (through round 16 an explode →
    * codebook join → max_by groupBy form shuffled the corpus twice per
    * encode; `graft.PqReference` under src/test keeps that form, and
    * PqEncodeSpec holds the expression to it bit for bit, the max_by
    * tie-break included). */
  private def pqEncodeCol(s: SparkSession, d: String): org.apache.spark.sql.Column =
    graft.functions.PqEncodeCodes.fromCodebooks(
      col("v"), col("nrm"), pqCodebooks(s, d), PqM, PqSubDim)

  /** Exact re-rank of a bounded (qid, vec_id) candidate shortlist: the
    * PQ serving tail shared by sim4/sim4b (global ADC) and sim4c
    * (cell-pruned ADC). The shortlist broadcasts (ReRankFactor·k rows
    * per query), so the corpus never shuffles for the vector fetch. */
  private def pqRerank(
      s: SparkSession, d: String, cands: DataFrame, qs: Array[Anchor],
      probes: Option[Array[(Long, Long)]]): DataFrame = {
    // Vector fetch for the exact re-rank. Two shapes:
    //  - `probes` set (sim4c / the ivfpq serving path) AND the
    //    prefix index landed: every candidate was FOUND in a probed
    //    cell, and the prefix index stores vectors co-located with
    //    their cells — so the fetch scans ONLY the probed cells
    //    (In-filter → bucket pruning + row-group skip), the same
    //    bounded read serveTopk does. Measured at 2M vectors this cut
    //    the ivfpq serve from ~9 s to probed-cells cost (CONC_r13: the
    //    corpus-scan fetch was the whole gap to the prefix kind).
    //    Appended rows live in the same table, tombstones are already
    //    masked, and multi-cell duplicates collapse in the max_by.
    //  - otherwise (flat sim4/sim4b, or no landed prefix index): one
    //    broadcast-joined lazy corpus scan (normedLazy: a cold session
    //    avoids the full Memo.mat materialization), unioned with the
    //    prefix table's appended versions on maintained corpora
    //    (appended ids are not in the corpus parquet).
    // Either way a candidate with several versions re-ranks against
    // its HIGHEST-seq vector only (corpus rows carry seq 0).
    val cellFetch = probes
      .filter(_ => Lakehouse.isLanded(s, tableOf(PrefixKind, d)))
      .map(p => servedIndex(s, d).filter(col("cell").isin(cellsOf(p): _*))
        .select(col("vec_id"), col("v"), col("nrm"), col("seq")))
    val e = cellFetch.getOrElse {
      val corpusE = normedLazy(s, d)
        .select(col("vec_id"), col("v"), col("nrm"), lit(0L).as("seq"))
      prefixVersions(s, d, 1L).fold(corpusE)(app => corpusE.unionByName(app))
    }
    val fetched = broadcast(cands)
      .join(e, Seq("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(expr("max_by(struct(v, nrm), seq)").as("vn"))
      .select(col("qid"), col("vec_id"), col("vn.v").as("v"), col("vn.nrm").as("nrm"))
    cosTopk(fetched.join(broadcast(queryRel(s, qs)), Seq("qid")))
  }

  /** Per-query flattened ADC lookup tables, computed DRIVER-side from
    * the memoized codebooks and query vectors (PqM·PqK doubles per
    * query — 2 KB): tab[m·PqK + cid] = dot(unit-query sub-vector m,
    * centroid cid), in the encode's ascending-loop arithmetic. Zero
    * distributed jobs. */
  private def adcTables(
      s: SparkSession, d: String, qs: Array[Anchor]): Seq[(Long, Array[Double])] = {
    val books = pqCodebooks(s, d)
    qs.toSeq.map { qv =>
      val u = qv.v.map(_ / qv.nrm)
      val tab = new Array[Double](PqM * PqK)
      books.foreach { case (m, cid, cv) =>
        var acc = 0.0
        var i = 0
        while (i < PqSubDim) { acc += u(m * PqSubDim + i) * cv(i); i += 1 }
        tab(m * PqK + cid) = acc
      }
      (qv.id, tab)
    }
  }

  /** The ADC shortlist shared by every PQ serve: each `scored` row
    * (qid, vec_id, codes, tab) scores its code array against its query's
    * lookup table in one codegen'd expression ([[VectorExprs.adcScore]]),
    * and each qid keeps its `candK` best distinct ids out of the bounded
    * top-k sketch (a multi-assigned vector scores identically in every
    * cell it shares with a query) — k pairs per (qid, partition) cross
    * the one exchange. */
  private def adcShortlist(scored: DataFrame, candK: Int): DataFrame =
    scored.withColumn("apx", VectorExprs.adcScore(col("codes"), col("tab"), PqK))
      .groupBy(col("qid"))
      .agg(SketchAggs.topkDistinct(col("apx"), col("vec_id"), candK).as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))

  /** sim4 — product-quantization ANN: per-subspace k-means codebooks
    * (PqM × PqK, Lloyd-trained like sim3), corpus encoded to one 4-bit
    * code per subspace, queries scored by asymmetric distance — a
    * per-query lookup table of subspace dot products, summed over codes
    * — then the top ReRankFactor×k candidates re-ranked with exact
    * cosine. The 100 TB shape vector search actually deploys: codebooks
    * broadcast (PqM × PqK × PqSubDim doubles), the corpus is scanned
    * once for encoding (8 B/vector at rest vs 256 B raw), ADC scoring
    * touches codes + a 10×128-entry broadcast table (never the raw
    * vectors), and only candidates fetch vectors for re-rank. Like sim3
    * the trained codebooks are float-summation-order sensitive, so the
    * driver oracle is the recall GATE (per-qid ok = recall@5 ≥ 0.6 vs
    * the exact answer; measured well above with exact re-rank). sim4 is
    * sim4b over inline rows: the flat kind's row rule over the corpus.
    * The flat kind has no coarse axis, so its ADC scans every code — the
    * un-pruned baseline; the designated scale path is [[sim4c]]'s
    * composed IVF+PQ, whose ADC touches only probed cells. */
  val sim4 = QueryDef(
    "sim4_ann_pq_topk",
    (s, d) => recallGate(s, d, inlineTopkAt(s, d, "pq", 0)),
    Some("SELECT CAST(vec_id AS BIGINT) AS qid, 1 AS ok FROM embeddings WHERE vec_id < 10"),
    doc = "PQ ANN: ADC over 4-bit codes + exact re-rank; recall-gated vs sim1"
  )

  /** sim4b — sim4 SERVED from the landed flat-PQ index: the
    * linear-in-n corpus encode pass is read back as code arrays instead
    * of being recomputed; ADC + re-rank run as in sim4. The deployable
    * flat-PQ shape: encode at ingest, serve from codes, maintained like
    * every kind. Recall-gated like sim4. */
  val sim4b = QueryDef(
    "sim4b_ann_pq_served",
    (s, d) => recallGate(s, d, servedTopkAt(s, d, "pq", 0, buildIfMissing = true)),
    sim4.oracle,
    doc = "sim4 served from the landed flat-PQ index: no per-query corpus re-encode"
  )

  /** PQ index rows (cell, vec_id, codes, seq) of vector rows (cell,
    * vec_id, v, nrm, seq): each vector replaced by its PQ code array.
    * The COMPOSED IVF+PQ index (the FAISS IndexIVFPQ shape, VERDICT r11
    * #1) shares the frozen prefix quantizer, so its rows ARE the prefix
    * rows projected: the same doubles, so bit-identical codes. ~4·PqM B
    * per row at rest; a query batch's ADC then touches ONLY its probed
    * cells' codes (sim2b's In-filter pruning applied to the PQ path),
    * where the flat kind's ADC scans every code. */
  private def pqRows(s: SparkSession, d: String, rows: DataFrame): DataFrame =
    rows.select(col("cell"), col("vec_id"), pqEncodeCol(s, d).as("codes"), col("seq"))

  /** Flat-PQ index rows of `versions` (vec_id, v, nrm, seq): one row per
    * version, its cell the vec_id (FAISS IndexPQ is IndexIVFPQ with one
    * list; bucketing on the id keeps the table at more than one bucket
    * at scale, where a constant cell would not). */
  private def flatPqRows(s: SparkSession, d: String, versions: DataFrame): DataFrame =
    pqRows(s, d, versions.withColumn("cell", col("vec_id")))

  /** The IVF-PQ landing frame: the projection of the tombstone-masked
    * prefix index when it is landed — every live version, appended ones
    * at their seq, so a landing after maintenance began catches up with
    * no code of its own — else of the prefix landing frame (one narrow
    * pass over the corpus, nothing landed). */
  private def ivfPqLandingFrame(s: SparkSession, d: String): DataFrame =
    pqRows(s, d,
      if (Lakehouse.isLanded(s, tableOf(PrefixKind, d))) servedIndex(s, d)
      else prefixIndexLandingFrame(s, d))

  /** The code-row scorer (IVF-PQ and flat PQ): the broadcast ADC tables
    * score the probed rows into a `candK`-deep shortlist
    * ([[adcShortlist]]), and the shortlist re-ranks exactly
    * ([[pqRerank]]). With probes, the probed cell ids push into the
    * index scan as an In filter (bucket pruning + row-group skip), the
    * rows join the broadcast (qid, cell) pairs, and the re-rank fetches
    * off the same cells' vectors: ONE scan of probed cells + ONE
    * k-pair-per-partition exchange per query batch before the re-rank.
    * Without (flat PQ), every row joins every query's table. */
  private def codeScore(
      s: SparkSession, d: String, rows: DataFrame, probes: Option[Array[(Long, Long)]],
      qs: Array[Anchor], candK: Int): DataFrame = {
    import s.implicits._
    val tabs = broadcast(adcTables(s, d, qs).toDF("qid", "tab"))
    val scored = probes.fold(rows.join(tabs, col("vec_id") =!= col("qid"))) { p =>
      rows.filter(col("cell").isin(cellsOf(p): _*))
        .join(broadcast(p.toSeq.toDF("qid", "cell")), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .join(tabs, Seq("qid"))
    }
    pqRerank(s, d, adcShortlist(scored, candK), qs, probes)
  }

  /** The shortlist an approximate code re-ranks, ∝ probed depth
    * (VERDICT r12 #4): ADC is approximate, so the impostor count above a
    * true neighbor grows with the scored candidate set — which grows ∝
    * nprobe, since the n-scaled quantizer holds cell occupancy
    * ~constant (≈ Dd7CellDiv·Dd7Probes rows per probe at every corpus
    * size). A FIXED shortlist made recall DECREASE with nprobe
    * (RECALL_r12_100x: ivfpq 0.98@1 → 0.94@56, degradation beginning
    * once scored/candK ≳ 20); keeping the shortlist a FIXED FRACTION of
    * the scored set restores monotonicity. Coefficient measured at the
    * 100× probe: 20·nprobe (scored/10) holds recall FLAT at the nprobe=1
    * level (0.98 — monotone but depth buys nothing); 250·nprobe reaches
    * 1.0 from depth 14 at 3× serve cost; 60·nprobe (re-rank ~⅓ of scored
    * — cell occupancy is ~192 rows/probe by the n-scaled quantizer's
    * design) captures the rise to 1.0 at moderate cost. Floored at the
    * flat-PQ shortlist — a kind with no coarse axis (depth 0) takes that
    * floor — and capped: the re-rank fetch broadcasts the shortlist, and
    * the top-k sketch holds candK pairs per (qid, partition). Raw-vector
    * rows are exact and take no shortlist. */
  private def shortlistDepth(nprobe: Int, rerankPerProbe: Int): Int =
    math.min(math.max(ReRankFactor * TopK, rerankPerProbe * nprobe), 16384)

  /** sim4c — the composed IVF+PQ serving path (FAISS IndexIVFPQ): PQ
    * codes landed WITH their cell assignment, ADC restricted to probed
    * cells, exact re-rank of the bounded shortlist, recall-gated like
    * sim4. Per-query-batch cost ∝ probed cells' rows — the 100 TB PQ
    * shape; sim4/sim4b remain as the flat-PQ baselines whose ADC scans
    * all codes. It serves at [[defaultNprobe]]: the calibrated sidecar
    * depth when the landing ran calibration, the √K heuristic otherwise
    * (no calibration sidecar exists at the graded SFs) — the depth the
    * deployable searchTopk/ServeStream surface serves at. */
  val sim4c = QueryDef(
    "sim4c_ann_ivfpq_served",
    (s, d) => recallGate(s, d,
      servedTopkAt(s, d, "ivfpq", defaultNprobe(s, d), buildIfMissing = true)),
    sim4.oracle,
    doc = "composed IVF+PQ: probed-cells-only ADC over the landed cell-bucketed code table; recall-gated vs sim1"
  )

  /** Recall instrumentation (VERDICT r10 #8): the graded queries' top-k
    * answer served from kind `kind`'s landed index at an EXPLICIT
    * fine-probe depth, beside the exact reference answer — the pieces
    * [[graft.tools.RecallProbe]] measures a recall@k / nprobe
    * trade-off curve from. The served graded queries (sim2b, sim3b,
    * sim4b, sim4c) are this call at their depths, so the measured recall is the
    * recall of what ships, not of a parallel implementation. */
  private[graft] def servedTopkAt(
      s: SparkSession, d: String, kind: String, nprobe: Int,
      rerankPerProbe: Int = DefaultRerankPerProbe,
      buildIfMissing: Boolean = false): DataFrame =
    searchServed(s, d, kind, nprobe, queryVecs(s, d), rerankPerProbe, buildIfMissing)

  /** The graded queries' top-k through kind `kind` at depth `nprobe`
    * over the kind's row rule applied to the corpus inline — nothing is
    * landed or read from a landing (sim2, sim3, sim4). */
  private[graft] def inlineTopkAt(s: SparkSession, d: String, kind: String, nprobe: Int): DataFrame = {
    val k = kindOf(kind)
    search(s, d, k, k.rows(s, d, corpusVersions(s, d)), nprobe, queryVecs(s, d))
  }

  /** [[search]] over kind `kind`'s landed index, shared by the graded
    * queries (queryVecs) and [[searchTopk]] (arbitrary caller vectors). */
  private def searchServed(
      s: SparkSession, d: String, kind: String, nprobe: Int, qs: Array[Anchor],
      rerankPerProbe: Int, buildIfMissing: Boolean): DataFrame = {
    if (!buildIfMissing) assertLandedForServe(s, d, kind)
    val k = kindOf(kind)
    search(s, d, k, servedIndex(s, d, k), nprobe, qs, rerankPerProbe)
  }

  /** PUBLIC ANN search for ARBITRARY query vectors — the online-serving
    * surface (a real query is near, not in, the index): rank each
    * vector's probes against the driver-resident quantizer, then serve
    * top-[[TopK]] from the landed index of `kind` ("prefix" | "kmeans"
    * | "ivfpq" | "pq") exactly as the graded queries are served. Query ids
    * must not collide with corpus vec_ids if the caller wants the
    * self-pair filter to stay inert (negative ids are safe). Cost per
    * batch: |queries|·√K driver cosines + one probed-cells-only scan.
    *
    * MAINTENANCE VISIBILITY: every kind reflects
    * [[graft.streaming.IndexIngest]] maintenance. Each kind writes one
    * row rule over versions (vec_id, v, nrm, seq) ([[IndexKind]]): every
    * landed kind receives each batch's rows and tombstones, and a kind
    * landed AFTER maintenance began catches up at its landing from the
    * maintained prefix table — k-means and flat PQ place its live
    * versions, and the ivfpq rows are always the prefix rows projected
    * to codes.
    *
    * FAIL-FAST (VERDICT r14 #1b): when the kind's index is NOT landed,
    * this throws [[MissingIndexException]] instead of building it —
    * an inline build inside a serve call is a corpus-scale job
    * (quantize + shuffle + land) the caller did not ask to run, and at
    * scale it is an outage (the r14 5M probe OOM'd a 64 GB heap in
    * exactly that fallback). Pass `buildIfMissing = true` (or call
    * [[buildIndex]] / run [[graft.tools.PreLand]] ahead) to build. */
  def searchTopk(
      s: SparkSession, d: String, kind: String,
      queries: Seq[(Long, Array[Double])],
      nprobe: Int = 0,
      rerankPerProbe: Int = DefaultRerankPerProbe,
      buildIfMissing: Boolean = false): DataFrame =
    searchServed(s, d, kind, if (nprobe > 0) nprobe else defaultNprobe(s, d),
      callerAnchors(queries), rerankPerProbe, buildIfMissing)

  /** Exact brute-force top-[[TopK]] for ARBITRARY query vectors (the
    * ground truth [[searchTopk]] is measured against): sim1's brute
    * force over the caller's vectors. */
  def exactTopkFor(
      s: SparkSession, d: String, queries: Seq[(Long, Array[Double])]): DataFrame =
    bruteTopk(s, d, callerAnchors(queries))

  /** Caller query vectors as anchors, normed on the driver. */
  private def callerAnchors(queries: Seq[(Long, Array[Double])]): Array[Anchor] =
    queries.map { case (id, v) => Anchor(id, v, math.sqrt(dotA(v, v))) }.toArray

  /** (qid, neighbor_id) of the exact brute-force answer (memoized). */
  private[graft] def exactNeighbors(s: SparkSession, d: String): DataFrame =
    exactTopk(s, d).select(col("qid"), col("neighbor_id"))

  /** K1 (≈ √K) for the prefix quantizer at this corpus size — the
    * structural upper bound on useful probing depth and the top of
    * RecallProbe's nprobe sweep. */
  private[graft] def sqrtKNprobe(s: SparkSession, d: String): Int =
    math.max(NProbe.toLong,
      Dedup.dd7CoarseCount(Dedup.dd7AnchorCount(corpusN(s, d)))).toInt

  /** The engine's default serving depth: the RECALL-JUSTIFIED depth
    * persisted by [[calibrateServedNprobe]] when the index was landed,
    * falling back to the √K heuristic when no calibration has run
    * (round 17 — VERDICT r16 #3). The heuristic is a structural
    * bound, not a measurement: every measured corpus (1M→20M,
    * RECALL_r13–r16) reached OOS recall 1.0 at nprobe ≤ 32 while √K
    * grew to 559 — serving at √K over-probed 5-40× and set the ivfpq
    * co-serving floor (shortlist + re-rank jobs ∝ probed cells,
    * SERVEPROF_r16). Reading the sidecar is a driver-local file read,
    * noise against a serve batch. */
  private[graft] def defaultNprobe(s: SparkSession, d: String): Int =
    QuantizerStore.load(s, d).flatMap(_.servedNprobe)
      .getOrElse(sqrtKNprobe(s, d))

  /** Deterministic OUT-OF-SAMPLE calibration queries: each graded
    * query vector rotated in a fixed plane to a controlled cosine
    * (t cycling {0.95, 0.85, 0.75} by id), negative ids so the
    * self-pair filter stays inert. Real serving queries are NEAR the
    * index, not in it — in-sample recall is structurally ~1.0 for the
    * prefix quantizer (a corpus vector IS an anchor), so only an OOS
    * curve measures what probing depth actually buys. Shared by
    * [[graft.tools.RecallProbe]]'s OOS sweep and
    * [[calibrateServedNprobe]]. */
  private[graft] def oosQueries(s: SparkSession, d: String): Seq[(Long, Array[Double])] = {
    val ts = Array(0.95, 0.85, 0.75)
    queryVecs(s, d).toSeq.map { a =>
      (-(a.id + 1), perturbVec(a.id, a.v, ts((a.id % 3).toInt)))
    }
  }

  /** Rotate `v` to cosine `t` against itself inside the deterministic
    * plane spanned by (v, sign-pattern-of-SplittableRandom(id)). */
  private def perturbVec(id: Long, v: Array[Double], t: Double): Array[Double] = {
    val rnd = new java.util.SplittableRandom(id * 7919 + 17)
    val r = Array.fill(v.length)(if (rnd.nextBoolean()) 1.0 else -1.0)
    val vv = v.map(x => x * x).sum
    val rv = r.indices.map(i => r(i) * v(i)).sum
    val w = r.indices.map(i => r(i) - rv / vv * v(i)).toArray
    val ww = math.max(w.map(x => x * x).sum, 1e-12)
    val sc = math.sqrt(1 - t * t) * math.sqrt(vv / ww)
    v.indices.map(i => t * v(i) + sc * w(i)).toArray
  }

  /** Measure the OOS recall curve on the LANDED composed ivfpq index
    * (the most approximate serving kind — a depth that reaches
    * `target` under 4-bit ADC + re-rank is safe for the exact-vector
    * kinds at equal depth) and persist the recall-justified serving
    * depth to the quantizer sidecar; [[defaultNprobe]] then serves
    * every kind at the measured depth instead of √K. Doubling ladder
    * 1..√K, smallest passing depth × 2 safety margin (query
    * distributions can sit farther out than the calibration cosines),
    * floored at [[NProbe]], capped at √K; a curve that never reaches
    * `target` leaves the √K fallback in force. Cost: one exact corpus
    * scan for ground truth + a handful of bounded serve calls — run it
    * where the landing already paid a corpus pass
    * ([[graft.tools.PreLand]] does, after landing ivfpq). */
  def calibrateServedNprobe(s: SparkSession, d: String, target: Double = 1.0): Int = {
    assertLandedForServe(s, d, "ivfpq")
    val qs = oosQueries(s, d)
    val exact = exactTopkFor(s, d, qs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val k1 = sqrtKNprobe(s, d)
    val ladder = (Iterator.iterate(1)(_ * 2).takeWhile(_ < k1).toSeq :+ k1).distinct
    def recallAt(np: Int): Double = {
      val got = searchTopk(s, d, "ivfpq", qs, np).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      if (exact.isEmpty) 1.0 else (exact & got).size.toDouble / exact.size
    }
    val passing = ladder.find(np => recallAt(np) >= target)
    val depth = passing.map(np => math.min(k1, math.max(NProbe, np * 2))).getOrElse(k1)
    QuantizerStore.update(s, d, corpusN(s, d))(_.copy(servedNprobe = Some(depth)))
    depth
  }

  val all: Seq[QueryDef] = Seq(sim1, sim2, sim2b, sim3, sim3b, sim4, sim4b, sim4c)
}
