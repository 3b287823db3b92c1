package graft.operators

import graft.{CacheScope, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines: exact,
  * MinHash+LSH, n-gram Jaccard, embedding near-duplicate.
  *
  * Scale design (100 TB): every pipeline here avoids the O(n²) all-pairs
  * trap — exact dedup is a hash groupBy on a digest; MinHash reduces each
  * doc to a k-value signature (map-side `min` aggregates, shuffle is
  * k longs per doc); candidate generation joins on LSH *band keys* so only
  * probable-duplicate pairs materialize; Jaccard is computed only for those
  * candidates. The md5-based hash family is engine-portable, so the whole
  * pipeline has a DuckDB oracle.
  */
object Dedup {

  /** 60-bit integer hash of a string via md5 — portable across engines. */
  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  private val H60_SQL = (e: String) =>
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** 28-bit md5-derived hash: the ONE string hash per shingle; the K
    * seeded minhash values derive from it by universal hashing
    * ((a_j·h + b_j) mod p), so the per-shingle cost is 1 md5 + K
    * multiply-adds instead of K md5s. 28 bits keeps a_j·h inside Long. */
  private def h28(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 7), 16, 10).cast("long")

  private val H28_SQL = (e: String) =>
    s"CAST('0x' || substr(md5($e), 1, 7) AS BIGINT)"

  private val P61 = 2305843009213693951L // 2^61 - 1
  private def seedA(j: Int): Long = 2654435761L + 2 * j
  private def seedB(j: Int): Long = 1013904223L * (j + 1)

  /** doc_id + distinct 3-token shingles. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, greatest(size(tk)-2, 0)), i -> array_join(slice(tk, i, 3), ' '))"))
        .as("sh"))
      .distinct()

  private val SHINGLES_SQL =
    """SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
       FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            unnest(generate_series(1, greatest(len(tk)-2, 0))) AS t(i)"""

  private val K = 8 // minhash signature width; banded 4×2 for LSH

  /** doc_id + K minhash values: one md5 per shingle, then K universal-hash
    * min-aggregates (pure arithmetic, fully codegen'd, map-side combined). */
  private def signaturesFrom(sh: DataFrame): DataFrame =
    sh.withColumn("h", h28(col("sh")))
      .groupBy(col("doc_id"))
      .agg(
        min((col("h") * seedA(0) + seedB(0)) % P61).as("mh0"),
        (1 until K).map(j =>
          min((col("h") * seedA(j) + seedB(j)) % P61).as(s"mh$j")): _*)

  private def signatures(s: SparkSession, d: String): DataFrame =
    signaturesFrom(shingles(s, d))

  private val SIG_SQL =
    s"""SELECT doc_id,
        ${(0 until K).map(j =>
          s"MIN((h * ${seedA(j)} + ${seedB(j)}) % $P61) AS mh$j").mkString(",\n        ")}
        FROM (SELECT doc_id, ${H28_SQL("sh")} AS h FROM ($SHINGLES_SQL))
        GROUP BY doc_id"""

  /** 4 bands × 2 rows: band key folds the band's signature slice into one
    * long (equality-only key; no string hashing needed). A single
    * posexplode over the band-key array — NOT a 4-way unionAll, which
    * would plan the signature subtree once per band (the round-1 scale
    * defect: 8 corpus tokenization passes at 100 TB). */
  private val M9 = 1000000007L
  private def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array(
        (0 until K / 2).map(b =>
          (col(s"mh${2 * b}") % M9) * M9 + (col(s"mh${2 * b + 1}") % M9)): _*)))
      .toDF("doc_id", "band", "bkey")

  private val BANDS_SQL =
    (0 until K / 2).map { b =>
      s"""SELECT doc_id, $b AS band,
          (mh${2 * b} % $M9) * $M9 + (mh${2 * b + 1} % $M9) AS bkey FROM sig"""
    }.mkString("\n  UNION ALL ")

  /** Connected components over an undirected edge list (`src`, `dst`) via
    * min-label propagation WITH pointer doubling — the scale-safe shape
    * for a 1000-executor cluster: plain propagation needs rounds ≈
    * component diameter (each a global barrier), while also propagating
    * along the pointer (star) edges v ↔ lbl(v) delivers lbl(lbl(v)) every
    * round, doubling the reach per round, so convergence is O(log
    * diameter) rounds (the hash-to-min family — Rastogi et al., "Finding
    * Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13).
    * Both propagations fold into ONE join + ONE aggregation per round.
    *
    * Invariants: `lbl(v)` is always the id of a vertex in v's component
    * and only ever decreases, so the label-sum is a strictly decreasing
    * convergence scalar — one 8-byte collect per round. Fixpoint forces
    * neighbor-min stability, i.e. every component labeled by its minimum
    * id.
    *
    * Returns (labels: doc → lbl, rounds).
    *
    * Iteration mechanics: the loop body runs on pair-RDDs, not DataFrames
    * — the one place in this engine where dropping below the DataFrame
    * API is the right call. A Catalyst round pays full
    * analysis/optimization plus AQE stage-by-stage scheduling (~1 s of
    * driver latency per round regardless of data volume, measured at
    * sf0.1), and the growing self-referential plan must be re-flattened
    * every round to avoid exponential re-analysis. RDD rounds with one
    * shared HashPartitioner have none of that: `bi` and `labels` stay
    * co-partitioned, so the per-round join shuffles only the (small) star
    * edges, and `reduceByKey` is map-side combined. This is the GraphX
    * execution shape, which is itself RDD-based for exactly this reason.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50,
      localEdgeCap: Int = 1 << 20)
      : (DataFrame, Int) = {
    val spark = edges.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lbl",
        org.apache.spark.sql.types.LongType, nullable = false)))
    // Capped driver-local fast path (the RecursiveCte.collectSmall
    // precedent, same budget reasoning as a broadcast join's driver-side
    // build): probe the edge list with limit(cap+1). At or under the cap
    // (default 1M edges, collected as boxed `Row`s of two boxed longs:
    // ~80 bytes an edge, so ~80 MB, plus a boxed map entry and a boxed
    // long per vertex in `idx` and `ids`) union-find labels the graph in
    // milliseconds where every distributed round is a scheduled join+
    // reduce job — the dominant cost of small candidate graphs. Past the
    // cap the probe stops at cap+1 rows and the pointer-doubling loop
    // below runs unchanged (the 100 TB path; ConnectedComponentsSpec pins
    // label equality between the two paths). Nothing is precomputed or
    // cached across runs — the edge frame is computed from the inputs
    // either way.
    if (localEdgeCap > 0) {
      val head = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .limit(localEdgeCap + 1).collect()
      if (head.length <= localEdgeCap) {
        val idx = new java.util.HashMap[Long, Integer]()
        val ids = new scala.collection.mutable.ArrayBuffer[Long]()
        def id(v: Long): Int = {
          val got = idx.get(v)
          if (got != null) got.intValue
          else { val i = ids.length; idx.put(v, i); ids += v; i }
        }
        head.foreach { r => id(r.getLong(0)); id(r.getLong(1)) }
        val n = ids.length
        val parent = Array.tabulate(n)(identity)
        def find(a0: Int): Int = {
          var a = a0
          while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
          a
        }
        head.foreach { r =>
          val a = find(id(r.getLong(0))); val b = find(id(r.getLong(1)))
          if (a != b) parent(a) = b
        }
        // component label = min vertex id, exactly the fixpoint's labels
        val minLbl = new Array[Long](n)
        java.util.Arrays.fill(minLbl, Long.MaxValue)
        var i = 0
        while (i < n) {
          val r = find(i)
          if (ids(i) < minLbl(r)) minLbl(r) = ids(i)
          i += 1
        }
        val rows = (0 until n).map(i =>
          org.apache.spark.sql.Row(ids(i), minLbl(find(i))))
        import scala.jdk.CollectionConverters._
        // one partition, like a one-split table (Tables.read): the
        // operators above the labels plan no exchange
        return (spark.createDataFrame(rows.asJava, outSchema).coalesce(1), 0)
      }
    }
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val e0: RDD[(Long, Long)] = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    // partition count follows the edge data, not the core count: e0's
    // partitioning is AQE-coalesced to the advisory size, so the loop
    // runs a handful of tasks per stage on a small pair graph and scales
    // to bytes-proportional parallelism on a 100 TB one (guide §2 —
    // scale-adaptive partitioning instead of a constant; the old
    // defaultParallelism.min(256) ran full-width empty tasks every
    // round at any input size)
    val part = new HashPartitioner(
      math.max(1, math.min(e0.getNumPartitions, 256)))
    val bi = e0.flatMap { case (s, d) => Seq((s, d), (d, s)) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // init fused with the first neighbor-min: lbl₀(v) = min(v, neighbors)
    // — bi is already hash-partitioned by v, so this whole step is narrow
    // (mapPartitions preserves the partitioner; reduceByKey needs no
    // shuffle), replacing a distinct shuffle + an extra propagation round
    var labels = bi
      .mapPartitions(_.map { case (v, n) => (v, math.min(v, n)) },
        preservesPartitioning = true)
      .reduceByKey(part, math.min(_: Long, _: Long))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // convergence scalar: labels only decrease, so the label sum strictly
    // decreases until fixpoint (Long wraparound can only mask a change if
    // the round's total decrease is an exact multiple of 2^64 — ignorable)
    def lblSum(r: RDD[(Long, Long)]): Long = r.values.fold(0L)(_ + _)
    val live = scala.collection.mutable.Queue(labels)
    var prevSum = -1L
    var curSum = lblSum(labels)
    var rounds = 0
    while (curSum != prevSum && rounds < maxRounds) {
      // one min-propagation over graph edges ∪ pointer (star) edges: the
      // star edge (lbl(v) → v) delivers lbl(lbl(v)) to v — the pointer-
      // doubling shortcut — and (v → lbl(v)) hands the component root the
      // min of its children, folded into the same reduceByKey as
      // neighbor-min. One co-partitioned join + one combined reduce.
      val star = labels.filter { case (v, l) => v != l }
      val allEdges = bi ++ star ++ star.map(_.swap)
      val prop = allEdges.join(labels, part)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
      val next = (prop ++ labels).reduceByKey(part, math.min(_: Long, _: Long))
        .persist(StorageLevel.MEMORY_AND_DISK)
      live.enqueue(next)
      prevSum = curSum
      curSum = lblSum(next) // materializes `next`, so older caches are dead
      labels = next
      while (live.size > 2) live.dequeue().unpersist(false)
      rounds += 1
    }
    bi.unpersist(false)
    // `labels` must stay cached until the caller materializes `out` (its
    // lineage is the whole fixpoint loop); everything older is dead now.
    // CacheScope releases `labels` once the harness drains the query.
    live.dequeueAll(_ ne labels).foreach(_.unpersist(false))
    CacheScope.track(labels)
    val out = spark.createDataFrame(
      labels.map { case (v, l) => org.apache.spark.sql.Row(v, l) },
      outSchema)
    (out, rounds)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: hash-groupBy on content digest, keep lowest doc_id
    QueryDef(
      "dedup_exact",
      (s, d) =>
        Tables.t(s, d, "documents")
          .groupBy(md5(col("text").cast("binary")).as("content_md5"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .orderBy(col("content_md5")),
      Some("""SELECT md5(text) AS content_md5, MIN(doc_id) AS keeper,
                COUNT(*) AS n_copies
              FROM documents GROUP BY md5(text) ORDER BY content_md5""")),

    // ---- MinHash signatures (the per-doc sketch; k=8 seeded 60-bit hashes)
    QueryDef(
      "dedup_minhash_sig",
      (s, d) => signatures(s, d).orderBy(col("doc_id")),
      Some(s"$SIG_SQL ORDER BY doc_id"),
      headline = true),

    // ---- LSH banding: candidate pairs = docs sharing >=1 of 4 band keys.
    //      Signatures are materialized ONCE (persist; at cluster scale:
    //      checkpoint to a table) before the self-join — the corpus is
    //      scanned and tokenized exactly once, and both join sides read
    //      the k-longs-per-doc cache. Sig is ~64 bytes/doc: trivially
    //      memory-resident even at 100 TB corpus scale.
    QueryDef(
      "dedup_lsh_pairs",
      (s, d) => {
        val b = bands(CacheScope.track(signatures(s, d).persist()))
        val a = b.as("a"); val c = b.as("c")
        a.join(c,
            col("a.band") === col("c.band") && col("a.bkey") === col("c.bkey") &&
              col("a.doc_id") < col("c.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
          .agg(countDistinct(col("a.band")).as("n_bands"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH sig AS ($SIG_SQL),
               bands AS ($BANDS_SQL)
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 COUNT(DISTINCT a.band) AS n_bands
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
               GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- n-gram Jaccard, computed only for LSH candidates (scale path:
    //      the expensive set-intersection join touches candidate docs only).
    //      Shingles are materialized once and reused by the signature
    //      derivation, both intersection sides, and the size counts — one
    //      corpus scan + one tokenization pass total. At 100 TB the persist
    //      becomes a checkpoint table (shingles are several× corpus size;
    //      MEMORY_AND_DISK spills), but the plan shape is the same.
    QueryDef(
      "dedup_ngram_jaccard",
      (s, d) => {
        val sh = CacheScope.track(shingles(s, d).persist())
        val b = bands(CacheScope.track(signaturesFrom(sh).persist()))
        // persisted: the intersection join and the final left join both
        // read cand — without the cache the bands self-join + distinct
        // runs twice per query (the pair set is tiny next to the
        // shingles; a checkpoint table at 100 TB)
        val cand = CacheScope.track(b.as("a").join(b.as("c"),
            col("a.band") === col("c.band") && col("a.bkey") === col("c.bkey") &&
              col("a.doc_id") < col("c.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
          .distinct()
          .persist())
        val na = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = cand
          .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sh.as("sb"),
            col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
        cand
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .na.fill(0, Seq("n_inter"))
          .join(na.as("ca"), col("doc_a") === col("ca.doc_id"))
          .join(na.as("cb"), col("doc_b") === col("cb.doc_id"))
          .select(
            col("doc_a"), col("doc_b"),
            (col("n_inter").cast("double") /
              (col("ca.n") + col("cb.n") - col("n_inter"))).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH sig AS ($SIG_SQL),
               bands AS ($BANDS_SQL),
               cand AS (
                 SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
               sh AS ($SHINGLES_SQL),
               sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
               inter AS (
                 SELECT doc_a, doc_b, COUNT(*) AS n_inter
                 FROM cand
                 JOIN sh sa ON doc_a = sa.doc_id
                 JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
                 GROUP BY 1, 2)
               SELECT c.doc_a, c.doc_b,
                 CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                   (ca.n + cb.n - COALESCE(i.n_inter, 0)) AS jaccard
               FROM cand c
               LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
               JOIN sizes ca ON c.doc_a = ca.doc_id
               JOIN sizes cb ON c.doc_b = cb.doc_id
               ORDER BY c.doc_a, c.doc_b""")),

    // ---- SimHash: 60-bit signature; bit b is the sign of the sum over
    //      tokens of ±1 at bit b of the token hash. Expressed as 60
    //      codegen'd conditional-sum aggregates per doc (no bit-explosion
    //      join); near-duplicates differ in few bits -> hamming distance
    //      via bit_count(xor). Reference analog: the dedup north-star;
    //      token hash reuses the portable md5-60 (engine-matched oracle).
    QueryDef(
      "dedup_simhash",
      (s, d) => {
        val B = 60
        // bitwise fold: 3 ones-counters packed per 64-bit accumulator
        // (20-bit fields), so the hash-agg carries 21 longs per doc
        // instead of 60. Field k of column p_j counts set bits at
        // position 3j+k; packed sums add field-wise with no carry as
        // long as every count stays under 2^20 — one field per token,
        // so the bound is 1,048,575 tokens per document (way past any
        // real document; the groupBy key is doc_id, so partial map-side
        // combines only ever accumulate one doc's tokens). The sign
        // test sum(±1) > 0 is equivalent to 2*ones > n_tokens.
        val F = 3; val W = 20; val MASK = (1 << W) - 1
        val toks = Tables.t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", h60(col("tok")))
        val packed = (0 until B by F).map { base =>
          sum(expr((0 until F).map(k =>
            s"(((h >> ${base + k}) & 1) << ${W * k})").mkString(" + ")))
            .as(s"p${base / F}")
        }
        val sig = toks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"), packed: _*)
          .select(col("doc_id"),
            (0 until B).map { b =>
              val j = b / F; val k = b % F
              when(expr(s"((p$j >> ${W * k}) & $MASK) * 2") > col("n"),
                lit(1L << b)).otherwise(0L)
            }.reduce(_ + _).as("simhash"))
        val ref = sig.orderBy(col("doc_id")).limit(1)
          .select(col("simhash").as("ref_hash"))
        sig.crossJoin(broadcast(ref))
          .select(col("doc_id"), col("simhash"),
            bit_count(expr("simhash ^ ref_hash")).as("hamming_to_doc0"))
          .orderBy(col("doc_id"))
      },
      Some {
        val B = 60
        val sums = (0 until B).map(b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(", ")
        val recombine = (0 until B).map(b =>
          s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (
              SELECT doc_id, ${H60_SQL("unnest(string_split(text, ' '))")} AS h
              FROM documents),
            bits AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
            sig AS (SELECT doc_id, $recombine AS simhash FROM bits),
            ref AS (SELECT simhash AS ref_hash FROM sig ORDER BY doc_id LIMIT 1)
            SELECT doc_id, simhash,
              CAST(bit_count(xor(simhash, ref_hash)) AS INT) AS hamming_to_doc0
            FROM sig, ref ORDER BY doc_id"""
      }),

    // ---- near-duplicate CLUSTERS: connected components over the LSH
    //      candidate-pair graph (the "keep one per duplicate group" step
    //      after pair generation) via [[connectedComponents]] pointer-
    //      doubling — O(log diameter) rounds, each a distributed join+agg.
    //      Oracle: DuckDB recursive CTE computing the same transitive
    //      closure.
    QueryDef(
      "dedup_clusters",
      (s, d) => {
        val b = bands(CacheScope.track(signatures(s, d).persist()))
        val edges = CacheScope.track(b.as("a").join(b.as("c"),
            col("a.band") === col("c.band") && col("a.bkey") === col("c.bkey") &&
              col("a.doc_id") < col("c.doc_id"))
          .select(col("a.doc_id").as("src"), col("c.doc_id").as("dst"))
          .distinct().persist())
        val (labels, _) = connectedComponents(edges)
        labels.groupBy(col("lbl").as("cluster_id"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE sig AS ($SIG_SQL),
               bands AS ($BANDS_SQL),
               edges AS (
                 SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id),
               bi AS (SELECT src, dst FROM edges
                      UNION ALL SELECT dst, src FROM edges),
               reach(doc, lbl) AS (
                 SELECT src, src FROM bi
                 UNION
                 SELECT bi.dst, reach.lbl FROM reach
                 JOIN bi ON bi.src = reach.doc)
               SELECT cluster_id, COUNT(*) AS n_docs FROM (
                 SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc)
               GROUP BY cluster_id ORDER BY cluster_id""")),

    // ---- embedding near-dup: cosine > threshold within a blocking key
    //      (label); at scale the blocking key is an LSH bucket, see
    //      Similarity.sim_lsh_bucket
    QueryDef(
      "dedup_embedding",
      (s, d) => {
        // norms are computed once per vector (2k ops), not once per pair
        // (200k ops): at scale the pair join must do exactly one dot product
        import graft.functions.{vector => gvec}
        val e = Tables.t(s, d, "embeddings").select(
            col("vec_id"), col("label"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("nrm", gvec.vecNorm(col("v")))
        val a = e.as("a"); val b = e.as("b")
        a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.label").as("label"),
            (gvec.vecDot(col("a.v"), col("b.v")) /
              (col("a.nrm") * col("b.nrm"))).as("cos"))
          .filter(col("cos") > 0.3)
          .groupBy(col("label")).agg(count(lit(1)).as("n_near_pairs"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (
                SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              n AS (
                SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
              SELECT a.label, COUNT(*) AS n_near_pairs
              FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.3
              GROUP BY a.label ORDER BY a.label""")),

    // ---- SemDeDup-style semantic dedup: k-means clusters block the
    //      pairwise work, then each vector whose cosine to a LOWER-id
    //      vector in the SAME cluster exceeds the threshold is dropped in
    //      favor of its lowest-id near neighbor. Pairwise cost is
    //      quadratic only WITHIN a cluster — the 100 TB path raises K so
    //      clusters stay executor-sized (SemDeDup uses ~10^5 clusters);
    //      the fixture uses the deterministic first-K-vectors centroids
    //      (same single-assignment shape as sim_ivf: corpus x K-broadcast
    //      centroids, one shuffle for the within-cluster self-join).
    QueryDef(
      "dedup_semantic",
      (s, d) => {
        import graft.functions.{vector => gvec}
        import org.apache.spark.sql.expressions.Window
        val K = 8
        val e = Tables.t(s, d, "embeddings").select(
            col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("nrm", gvec.vecNorm(col("v")))
        val cent = e.filter(col("vec_id") < K)
          .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
        // centroid assignment via the narrow codegen argmin (see
        // functions.vector.VecArgminL2Sq): the K centroids fold into ONE
        // broadcast array row and each vector picks its (d, cid)-minimum
        // inside the scan stage — no explode to K rows, no window
        // exchange/sort (guide §2.4). NOT persisted (measured in r12):
        // both self-join sides re-derive the assignment, but caching the
        // wide 64-double vector column costs more than this narrow
        // recompute — the centroid side is broadcast either way
        val cands = cent
          .agg(collect_list(struct(col("cid").cast("long").as("cid"),
            col("cv"))).as("cands"))
        val assigned = e.crossJoin(broadcast(cands))
          .withColumn("mn", gvec.vecArgminL2Sq(col("v"), col("cands")))
          .select(col("vec_id"), col("mn.cid").cast("int").as("cid"),
            col("v"), col("nrm"))
        val a = assigned.as("a"); val b = assigned.as("b")
        a.join(b, col("a.cid") === col("b.cid") &&
            col("a.vec_id") < col("b.vec_id"))
          .filter((gvec.vecDot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))) > 0.3)
          .select(col("b.vec_id").as("vec_id"), col("b.cid").as("cid"),
            col("a.vec_id").as("keeper"))
          .groupBy(col("vec_id"), col("cid"))
          .agg(min(col("keeper")).as("kept_as"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
                SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              n AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              cent AS (
                SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e
                WHERE vec_id < 8),
              asg AS (
                SELECT vec_id, cid, v, nrm FROM (
                  SELECT n.vec_id, c.cid, n.v, n.nrm,
                    row_number() OVER (PARTITION BY n.vec_id ORDER BY
                      list_sum(list_transform(list_zip(n.v, c.cv),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rk
                  FROM n CROSS JOIN cent c) WHERE rk = 1)
              SELECT b.vec_id AS vec_id, b.cid AS cid,
                     MIN(a.vec_id) AS kept_as
              FROM asg a JOIN asg b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) > 0.3
              GROUP BY b.vec_id, b.cid ORDER BY vec_id""")),

    // ---- passage-level dedup (C4/RefinedWeb-style): fixed 10-word chunks,
    //      global first-occurrence keep by content hash, in-order
    //      reassembly. Two plain hash-partitioned shuffles — chunk-hash
    //      (window) then doc_id (reassembly) — never all-pairs; the window
    //      partition key is an md5 so skew is content-independent at 100 TB
    //      (reference has document-level dedup only; passage granularity is
    //      the training-pipeline extension)
    QueryDef(
      "dedup_paragraph",
      (s, d) => {
        // split() projected once — a lambda-body reference would
        // re-evaluate it per chunk (quadratic in document length)
        val nChunks = ceil(size(col("w")) / lit(10.0)).cast("int")
        val chunks = transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(col("w"), i * 10 + 1, lit(10))))
        val firstSeen = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("chunk").cast("binary")))
          .orderBy(col("doc_id"), col("chunk_idx"))
        Tables.t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            posexplode(chunks).as(Seq("chunk_idx", "chunk")))
          .withColumn("rn", row_number().over(firstSeen))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            count(when(col("rn") === 1, 1)).as("n_kept"),
            array_join(
              transform(
                filter(
                  array_sort(collect_list(struct(col("chunk_idx"),
                    when(col("rn") === 1, col("chunk")).as("chunk")))),
                  x => x.getField("chunk").isNotNull),
                x => x.getField("chunk")),
              " ").as("kept_text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              chunked AS (
                SELECT doc_id,
                  list_transform(range(0, CAST(ceil(len(w)/10.0) AS BIGINT)),
                    i -> array_to_string(w[(i*10+1):(i*10+10)], ' ')) AS cs
                FROM words),
              chunks AS (
                SELECT doc_id, unnest(cs) AS chunk,
                  generate_subscripts(cs, 1) AS chunk_idx
                FROM chunked),
              ranked AS (
                SELECT doc_id, chunk_idx, chunk,
                  row_number() OVER (PARTITION BY md5(chunk)
                                     ORDER BY doc_id, chunk_idx) AS rn
                FROM chunks)
              SELECT doc_id, COUNT(*) AS n_chunks,
                COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
                COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                                    ORDER BY chunk_idx), '') AS kept_text
              FROM ranked GROUP BY doc_id ORDER BY doc_id""")),

    // ---- incremental (cross-snapshot) dedup: dedupe a NEW crawl batch
    //      against an already-deduped corpus without re-processing the
    //      corpus. Sources src0–src4 stand in for the existing corpus;
    //      the rest are the new batch. Two content-hash-keyed joins:
    //      (1) LEFT ANTI against the corpus digest set (at 100 TB the
    //      corpus side is a digest-only table — 16 bytes/doc, not the
    //      text), (2) first-occurrence-wins inside the batch (groupBy
    //      min on the digest). The new batch is the only side that
    //      carries text, and both shuffles key on the digest, so a
    //      re-crawl of N docs costs O(N) regardless of corpus size.
    QueryDef(
      "dedup_incremental",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
          .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        val corpusSrc = Seq("src0", "src1", "src2", "src3", "src4")
        val corpus = docs.filter(col("source").isin(corpusSrc: _*))
          .select(col("h")).distinct()
        val batch = docs.filter(!col("source").isin(corpusSrc: _*))
        val fresh = batch.join(corpus, Seq("h"), "left_anti")
        // first-occurrence flag as a window min over the digest: ONE pass
        // over the anti-joined batch with a single h-keyed exchange — the
        // old groupBy + join-back planned the fresh subtree (scan + md5 +
        // anti join) twice and shuffled it twice (guide §2.4). md5 keys
        // hash uniformly, so the window partition is skew-free at scale.
        fresh
          .withColumn("keep_id", min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
          .select(col("doc_id"), col("source"), col("h"),
            (col("doc_id") === col("keep_id")).as("kept"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH docs AS (
                SELECT doc_id, source, md5(text) AS h FROM documents),
              corpus AS (
                SELECT DISTINCT h FROM docs
                WHERE source IN ('src0','src1','src2','src3','src4')),
              batch AS (
                SELECT * FROM docs
                WHERE source NOT IN ('src0','src1','src2','src3','src4')),
              fresh AS (
                SELECT b.* FROM batch b
                WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)),
              keep AS (
                SELECT h, MIN(doc_id) AS keep_id FROM fresh GROUP BY h)
              SELECT f.doc_id, f.source, f.h,
                     f.doc_id = k.keep_id AS kept
              FROM fresh f JOIN keep k USING (h)
              ORDER BY f.doc_id"""))
  )
}
