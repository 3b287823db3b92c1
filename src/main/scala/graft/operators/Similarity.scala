package graft.operators

import graft.{CacheScope, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding vectors (`ArrayType(FloatType)`) —
  * north-star extension.
  *
  * Two paths, as a 100 TB design requires:
  *  - brute-force top-k: exact, O(probes × corpus); right when the probe
  *    set is small (broadcast the probes, scan the corpus once).
  *  - LSH-bucketed: hyperplane-sign bucket key computed per vector, then
  *    candidate search only within the probe's bucket — turns the scan
  *    into an equi-join on bucket, which shuffles/partitions like any
  *    other key join and prunes the corpus by ~2^bits.
  *
  * Reference analog: VECTOR type + vec_distance family
  * (sql/types/vector.go:34, sql/expression/function/vector/distance.go:28)
  * and the ANN ORDER BY rewrite (sql/analyzer/replace_order_by_distance.go).
  */
object Similarity {

  import graft.functions.{vector => gvec}

  /** vectors as doubles with the L2 norm precomputed once per vector —
    * the pair-scoring join then does exactly one dot product per pair */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "embeddings").select(
        col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", gvec.vecNorm(col("v")))

  /** native sequential-fold dot product (graft.functions.vector): same
    * summation order as the aggregate/zip_with fold, one primitive loop */
  private def dot(a: String, b: String): Column = gvec.vecDot(col(a), col(b))

  private def cosine(a: String, b: String): Column =
    dot(a, b) / (gvec.vecNorm(col(a)) * gvec.vecNorm(col(b)))

  // ---- product quantization (shared by vec_pq_codebook / sim_pq_adc):
  //      M=4 subspaces × 16 dims, K=8 codes, 2 deterministic Lloyd
  //      iterations with exact-DECIMAL centroid sums

  /** nearest codebook entry per (vector, subspace): the K codebook
    * entries of each subspace fold into ONE broadcast array row and the
    * argmin is computed NARROWLY per input row —
    * `array_min(transform(cands, k -> struct(dd, cid)))`, whose struct
    * ordering (dd first, then cid) is exactly the (dd, cid) tie order
    * the previous row_number window used. No explode to K rows, no
    * exchange, no sort: the assignment runs inside the scan stage
    * (guide §2.4 "remove shuffles outright"). */
  private def pqAssign(sub: DataFrame, c: DataFrame): DataFrame = {
    val cArr = c.groupBy(col("m"))
      .agg(collect_list(struct(col("cid").cast("long").as("cid"),
        col("cv"))).as("cands"))
    sub.join(broadcast(cArr), Seq("m"))
      .withColumn("mn", gvec.vecArgminL2Sq(col("sv"), col("cands")))
      .select(col("vec_id"), col("m"), col("mn.cid").cast("int").as("cid"),
        col("sv"), col("mn.d2").as("dd"))
  }

  /** (subspace slices, trained centroids) */
  private def pqTrain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val K = 8 // codes per subspace
    val e = emb(s, d).select(col("vec_id"), col("v"))
    // (vec_id, m, sv): subspace m's 16-dim slice of each vector.
    // Persisted: every Lloyd iteration plus the final assignment re-reads
    // the slices — one embeddings scan total instead of one per pass
    val sub = CacheScope.track(
      e.select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 3), m -> slice(v, m * 16 + 1, 16))"))
        .as(Seq("m", "sv")))
        .persist())
    var cent = sub.filter(col("vec_id") < K)
      .select(col("m"), col("vec_id").cast("int").as("cid"),
        col("sv").as("cv"))
    for (_ <- 0 until 2) {
      val a = pqAssign(sub, cent)
      cent = a
        .select(col("m"), col("cid"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("cid"), col("dim"))
        .agg((sum(col("x").cast(DecimalType(27, 12))).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("m"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
          .as("cv"))
    }
    // trained centroids persist too: both consumers (code assignment
    // and the probe distance table) would otherwise re-run the 2-pass
    // Lloyd lineage — 32 rows cached vs two full re-trainings
    (sub, CacheScope.track(cent.persist()))
  }

  /** DuckDB twins of pqTrain/pqAssign (shared by both PQ oracles). */
  private object PqSql {
    val dist =
      "list_sum(list_transform(list_zip(sv, cv), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    def assign(centCte: String, name: String): String =
      s"""$name AS (
         |  SELECT vec_id, m, cid, sv, dd FROM (
         |    SELECT e.vec_id, e.m, c.cid, e.sv, $dist AS dd,
         |      row_number() OVER (PARTITION BY e.vec_id, e.m
         |        ORDER BY $dist, c.cid) AS rk
         |    FROM es e JOIN $centCte c ON e.m = c.m) WHERE rk = 1)""".stripMargin
    def recompute(assignCte: String, name: String): String =
      s"""$name AS (
         |  SELECT m, cid, list(c ORDER BY dim) AS cv FROM (
         |    SELECT m, cid, dim,
         |      CAST(SUM(CAST(sv[dim] AS DECIMAL(27,12))) AS DOUBLE)
         |        / COUNT(*) AS c
         |    FROM $assignCte, unnest(generate_series(1, 16)) t(dim)
         |    GROUP BY m, cid, dim)
         |  GROUP BY m, cid)""".stripMargin
    /** WITH-body producing `es` (subspace slices) and `cent2` (trained). */
    val trained: String =
      s"""e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |es AS (
         |  SELECT vec_id, m, v[(m * 16 + 1):(m * 16 + 16)] AS sv
         |  FROM e, unnest(generate_series(0, 3)) t(m)),
         |cent0 AS (
         |  SELECT m, CAST(vec_id AS INT) AS cid, sv AS cv FROM es
         |  WHERE vec_id < 8),
         |${assign("cent0", "a0")},
         |${recompute("a0", "cent1")},
         |${assign("cent1", "a1")},
         |${recompute("a1", "cent2")}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-k (exact baseline)
    QueryDef(
      "sim_topk_bruteforce",
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("probe"), col("v").as("pv"), col("nrm").as("pn"))
        val corpus = e.filter(col("vec_id") >= 3)
          .select(col("vec_id").as("neighbor"), col("v").as("nv"), col("nrm").as("nn"))
        val scored = corpus.crossJoin(broadcast(probes))
          .select(col("probe"), col("neighbor"),
            (dot("pv", "nv") / (col("pn") * col("nn"))).as("cos"))
        val w = Window.partitionBy(col("probe"))
          .orderBy(col("cos").desc, col("neighbor"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("probe"), col("neighbor"), col("rk"))
          .orderBy(col("probe"), col("rk"))
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              nv AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              scored AS (
                SELECT p.vec_id AS probe, n.vec_id AS neighbor,
                  list_dot_product(p.v, n.v) / (p.nrm * n.nrm) AS cos,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_dot_product(p.v, n.v) / (p.nrm * n.nrm)
                      DESC, n.vec_id) AS rk
                FROM nv p JOIN nv n ON p.vec_id < 3 AND n.vec_id >= 3)
              SELECT probe, neighbor, rk FROM scored WHERE rk <= 5
              ORDER BY probe, rk"""),
      headline = true),

    // ---- kNN majority-vote classification (the "label new data with
    //      the nearest labeled examples" step — weak labeling / quality
    //      routing in a training pipeline, and the evaluation harness for
    //      every ANN index above, since it consumes exact top-k). The
    //      probe set broadcasts over one corpus scan (probes are the
    //      small side by construction); the vote is a (probe, label)
    //      count + window max, both keyed on probe — bounded state, no
    //      second corpus pass.
    QueryDef(
      "sim_knn_classify",
      (s, d) => {
        val e = emb(s, d)
        val probes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe"), col("label").as("true_label"),
            col("v").as("pv"), col("nrm").as("pn"))
        val corpus = e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("neighbor"), col("label").as("nl"),
            col("v").as("nv"), col("nrm").as("nn"))
        val wk = Window.partitionBy(col("probe"))
          .orderBy(col("cos").desc, col("neighbor"))
        val topk = corpus.crossJoin(broadcast(probes))
          .select(col("probe"), col("true_label"), col("neighbor"), col("nl"),
            (dot("pv", "nv") / (col("pn") * col("nn"))).as("cos"))
          .withColumn("rk", row_number().over(wk))
          .filter(col("rk") <= 5)
        val wv = Window.partitionBy(col("probe"))
          .orderBy(col("votes").desc, col("pred_label"))
        topk.groupBy(col("probe"), col("true_label"),
            col("nl").as("pred_label"))
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wv))
          .filter(col("vr") === 1)
          .select(col("probe"), col("true_label"), col("pred_label"),
            col("votes"))
          .orderBy(col("probe"))
      },
      Some("""WITH e AS (
                SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              nv AS (
                SELECT vec_id, label, v,
                  sqrt(list_dot_product(v, v)) AS nrm FROM e),
              topk AS (
                SELECT * FROM (
                  SELECT p.vec_id AS probe, p.label AS true_label,
                    n.vec_id AS neighbor, n.label AS nl,
                    row_number() OVER (PARTITION BY p.vec_id
                      ORDER BY list_dot_product(p.v, n.v) / (p.nrm * n.nrm)
                        DESC, n.vec_id) AS rk
                  FROM nv p JOIN nv n ON p.vec_id < 10 AND n.vec_id >= 10)
                WHERE rk <= 5),
              votes AS (
                SELECT probe, true_label, nl AS pred_label,
                  COUNT(*) AS votes,
                  row_number() OVER (PARTITION BY probe
                    ORDER BY COUNT(*) DESC, nl) AS vr
                FROM topk GROUP BY probe, true_label, nl)
              SELECT probe, true_label, pred_label, votes
              FROM votes WHERE vr = 1 ORDER BY probe""")),

    // ---- LSH-bucketed ANN: axis-aligned hyperplane signs (first 8 dims)
    //      as bucket key; search joins probe->bucket only
    QueryDef(
      "sim_lsh_bucket",
      (s, d) => {
        val bucketed = emb(s, d).withColumn("bucket",
          // unrolled sign-bit fold: plain conditional sums stay inside
          // whole-stage codegen, where the aggregate()/lambda higher-order
          // form is CodegenFallback and pays a lambda frame per element
          // per row (guide step 4)
          (0 until 8).map(j =>
            when(element_at(col("v"), j + 1) > 0, lit(1L << j))
              .otherwise(lit(0L))).reduce(_ + _))
        val probes = bucketed.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe"), col("v").as("pv"),
            col("nrm").as("pn"), col("bucket"))
        val corpus = bucketed.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("neighbor"), col("v").as("nv"),
            col("nrm").as("nn"), col("bucket"))
        val scored = corpus.join(broadcast(probes), Seq("bucket"))
          .select(col("probe"), col("neighbor"), col("bucket"),
            (dot("pv", "nv") / (col("pn") * col("nn"))).as("cos"))
        val w = Window.partitionBy(col("probe"))
          .orderBy(col("cos").desc, col("neighbor"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("probe"), col("bucket"), col("neighbor"), col("rk"))
          .orderBy(col("probe"), col("rk"))
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              b AS (
                SELECT vec_id, v,
                  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END) +
                  (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END) +
                  (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) +
                  (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) +
                  (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END) +
                  (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) +
                  (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END) +
                  (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
                FROM e),
              scored AS (
                SELECT p.vec_id AS probe, p.bucket AS bucket, n.vec_id AS neighbor,
                  list_dot_product(p.v, n.v) /
                    (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(n.v, n.v)))
                    AS cos,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_dot_product(p.v, n.v) /
                      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(n.v, n.v)))
                      DESC, n.vec_id) AS rk
                FROM b p JOIN b n ON p.bucket = n.bucket
                  AND p.vec_id < 5 AND n.vec_id >= 5)
              SELECT probe, bucket, neighbor, rk FROM scored WHERE rk <= 3
              ORDER BY probe, rk""")),

    // ---- IVF-style ANN: assign every vector to its nearest of C coarse
    //      centroids (broadcast; here the first 8 vectors stand in for
    //      k-means centroids), then search only the probe's inverted list.
    //      At 100 TB the corpus is partitioned by centroid id, so a probe
    //      touches 1/C of the data (nprobe=1) via an equi-join — the same
    //      recall/latency dial as a real IVF index, all in plan algebra.
    QueryDef(
      "sim_ivf",
      (s, d) => {
        import graft.functions.{vector => gvec}
        val e = emb(s, d)
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        // the 8 centroids fold into ONE broadcast array row; the argmin
        // is computed NARROWLY per vector with array_min over
        // struct(d2, cent_id) — min distance, then min cent_id among
        // exact ties, the same two-level order as the old
        // dists→mins→join two-pass argmin (which planned the dists
        // subtree twice and re-scanned embeddings for the join-back).
        // Assignment now runs inside the scan stage: no explode to K
        // rows, no exchange, no sort (guide §2.4).
        // persisted: the single candidate-array row is read by every
        // branch that assigns or ranks against the centroids — without
        // the cache each consumer re-plans the centroid scan + fold
        val cands = CacheScope.track(cents
          .agg(collect_list(struct(col("cent_id"), col("cv"))).as("cands"))
          .persist())
        val withCent = e.crossJoin(broadcast(cands))
          .withColumn("mn", gvec.vecArgminL2Sq(col("v"), col("cands")))
          .select(col("vec_id"), col("mn.cid").as("cent"),
            col("v"), col("nrm"))
        val probes = withCent.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe"), col("v").as("pv"),
            col("nrm").as("pn"), col("cent"))
        val corpus = withCent.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("neighbor"), col("v").as("nv"),
            col("nrm").as("nn"), col("cent"))
        val scored = corpus.join(broadcast(probes), Seq("cent"))
          .select(col("probe"), col("cent"), col("neighbor"),
            (gvec.vecDot(col("pv"), col("nv")) / (col("pn") * col("nn")))
              .as("cos"))
        val w = Window.partitionBy(col("probe"))
          .orderBy(col("cos").desc, col("neighbor"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("probe"), col("cent"), col("neighbor"), col("rk"))
          .orderBy(col("probe"), col("rk"))
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              nv AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              cents AS (
                SELECT vec_id AS cent_id, v AS cv FROM nv WHERE vec_id < 8),
              dists AS (
                SELECT n.vec_id, c.cent_id,
                  list_sum(list_transform(list_zip(n.v, c.cv),
                    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
                FROM nv n CROSS JOIN cents c),
              mins AS (
                SELECT vec_id, min(d2) AS md FROM dists GROUP BY vec_id),
              assigned AS (
                SELECT d.vec_id, min(d.cent_id) AS cent
                FROM dists d JOIN mins m
                  ON d.vec_id = m.vec_id AND d.d2 = m.md
                GROUP BY d.vec_id),
              wc AS (
                SELECT nv.vec_id, nv.v, nv.nrm, a.cent
                FROM nv JOIN assigned a ON nv.vec_id = a.vec_id),
              scored AS (
                SELECT p.vec_id AS probe, p.cent AS cent, n.vec_id AS neighbor,
                  list_dot_product(p.v, n.v) / (p.nrm * n.nrm) AS cos,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_dot_product(p.v, n.v) / (p.nrm * n.nrm) DESC,
                             n.vec_id) AS rk
                FROM wc p JOIN wc n ON p.cent = n.cent
                  AND p.vec_id < 5 AND n.vec_id >= 5)
              SELECT probe, cent, neighbor, rk FROM scored WHERE rk <= 3
              ORDER BY probe, rk""")),

    // ---- IVF search at nprobe=2: the recall dial of a real IVF index.
    //      Corpus vectors keep their single nearest list; each PROBE
    //      searches its 2 nearest centroids' lists (rank<=2 over the
    //      broadcast centroid set), doubling candidates scanned for
    //      higher recall while still pruning ~k/nprobe of the corpus.
    //      Plan shape: one extra row per probe, same equi-join on cent.
    QueryDef(
      "sim_ivf_nprobe",
      (s, d) => {
        import graft.functions.{vector => gvec}
        val e = emb(s, d)
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        // the 8 centroids fold into ONE broadcast array row; assignments
        // are computed NARROWLY per vector inside the scan stage (no
        // explode to K rows, no exchange, no sort — guide §2.4). Corpus
        // keeps its single nearest list via array_min over
        // struct(d2, cent_id) (min distance, tie → min cent_id — the old
        // window's order); each probe explodes just its top-2 lists
        // (array_sort + slice), ~2 rows per probe.
        // persisted: the single candidate-array row is read by every
        // branch that assigns or ranks against the centroids — without
        // the cache each consumer re-plans the centroid scan + fold
        val cands = CacheScope.track(cents
          .agg(collect_list(struct(col("cent_id"), col("cv"))).as("cands"))
          .persist())
        val corpus = e.filter(col("vec_id") >= 5)
          .crossJoin(broadcast(cands))
          .withColumn("mn", gvec.vecArgminL2Sq(col("v"), col("cands")))
          .select(col("vec_id").as("neighbor"), col("v").as("nv_v"),
            col("nrm").as("nn"), col("mn.cid").as("cent"))
        // probes explode just their top-2 lists (array_sort + slice over
        // the 8 candidate structs; interpreted HOF is fine on the 5-row
        // probe side)
        val probes = e.filter(col("vec_id") < 5)
          .crossJoin(broadcast(cands))
          .select(col("vec_id").as("probe"), col("v").as("pv"),
            col("nrm").as("pn"),
            explode(slice(array_sort(transform(col("cands"),
              k => struct(gvec.vecL2Sq(col("v"), k.getField("cv")).as("d2"),
                k.getField("cent_id").as("cent_id")))), 1, 2)).as("mn"))
          .select(col("probe"), col("pv"), col("pn"),
            col("mn.cent_id").as("cent"))
        val scored = corpus.join(broadcast(probes), Seq("cent"))
          .select(col("probe"), col("neighbor"),
            (gvec.vecDot(col("pv"), col("nv_v")) / (col("pn") * col("nn")))
              .as("cos"))
          .distinct() // a neighbor reachable via both probed lists counts once
        val w = Window.partitionBy(col("probe"))
          .orderBy(col("cos").desc, col("neighbor"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("probe"), col("neighbor"), col("rk"))
          .orderBy(col("probe"), col("rk"))
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              nv AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              cents AS (
                SELECT vec_id AS cent_id, v AS cv FROM nv WHERE vec_id < 8),
              ranked AS (
                SELECT n.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY n.vec_id ORDER BY
                    list_sum(list_transform(list_zip(n.v, c.cv),
                      z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS crk
                FROM nv n CROSS JOIN cents c),
              corpus AS (
                SELECT nv.vec_id AS neighbor, nv.v, nv.nrm, r.cent_id AS cent
                FROM nv JOIN ranked r ON nv.vec_id = r.vec_id AND r.crk = 1
                WHERE nv.vec_id >= 5),
              probes AS (
                SELECT nv.vec_id AS probe, nv.v, nv.nrm, r.cent_id AS cent
                FROM nv JOIN ranked r ON nv.vec_id = r.vec_id AND r.crk <= 2
                WHERE nv.vec_id < 5),
              scored AS (
                SELECT DISTINCT p.probe, c.neighbor,
                  list_dot_product(p.v, c.v) / (p.nrm * c.nrm) AS cos
                FROM probes p JOIN corpus c ON p.cent = c.cent),
              top AS (
                SELECT probe, neighbor,
                  row_number() OVER (PARTITION BY probe
                    ORDER BY cos DESC, neighbor) AS rk
                FROM scored)
              SELECT probe, neighbor, rk FROM top WHERE rk <= 3
              ORDER BY probe, rk""")),

    // ---- vector distance functions (reference vec_distance family):
    //      euclidean, squared-L2, cosine distance vs a constant query vector
    QueryDef(
      "vec_distances",
      (s, d) => {
        val q = (0 until 64).map(i => if (i % 2 == 0) 0.1 else -0.1)
        val qcol = array(q.map(lit): _*)
        val e = emb(s, d).withColumn("q", qcol)
        e.select(
            col("vec_id"),
            dot("v", "q").as("dotp"),
            gvec.vecL2(col("v"), col("q")).as("l2"),
            gvec.vecL2Sq(col("v"), col("q")).as("l2sq"),
            (lit(1.0) - cosine("v", "q")).as("cos_dist"))
          .orderBy(col("vec_id"))
      },
      Some({
        val q = (0 until 64).map(i => if (i % 2 == 0) "0.1" else "-0.1")
          .mkString("[", ",", "]")
        s"""WITH e AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                CAST($q AS DOUBLE[]) AS q
              FROM embeddings)
            SELECT vec_id,
              list_dot_product(v, q) AS dotp,
              sqrt(list_sum(list_transform(list_zip(v, q), z -> (z[1] - z[2]) * (z[1] - z[2])))) AS l2,
              list_sum(list_transform(list_zip(v, q), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS l2sq,
              1.0 - list_dot_product(v, q) /
                (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))) AS cos_dist
            FROM e ORDER BY vec_id"""
      })),

    // ---- IVF with REAL k-means centroids (the round-1 verdict's "obvious
    //      upgrade" over hash-bucket centroids): 2 Lloyd iterations, k=8,
    //      deterministic everywhere — init = first k vectors by id,
    //      assignment ties break on centroid id, and centroid means are
    //      exact-DECIMAL component sums rendered to double BEFORE the
    //      double division, so both engines produce bit-identical
    //      centroids. Each iteration is one broadcast(k centroids) +
    //      row_number + component re-aggregation — the standard
    //      distributed Lloyd step at any scale. The oracle unrolls the
    //      same two iterations in SQL.
    QueryDef(
      "sim_ivf_kmeans",
      (s, d) => {
        val K = 8
        val DIM = 64
        // persisted: 3 assignment passes (2 Lloyd + the final) each
        // re-read the vectors otherwise
        val e = CacheScope.track(
          emb(s, d).select(col("vec_id"), col("v")).persist())
        var cent = e.filter(col("vec_id") < K)
          .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
        // the K centroids fold into ONE broadcast array row; the argmin
        // is computed NARROWLY per vector with array_min over
        // struct(d, cid) — same (d, cid) tie order as the old row_number
        // window, but assignment runs inside the scan stage: no explode
        // to K rows, no exchange, no sort (guide §2.4)
        def assign(c: DataFrame): DataFrame = {
          val cArr = c.agg(collect_list(struct(col("cid").cast("long")
            .as("cid"), col("cv"))).as("cands"))
          e.crossJoin(broadcast(cArr))
            .withColumn("mn", gvec.vecArgminL2Sq(col("v"), col("cands")))
            .select(col("vec_id"), col("mn.cid").cast("int").as("cid"),
              col("v"), col("mn.d2").as("d"))
        }
        for (_ <- 0 until 2) {
          val a = assign(cent)
          // each iteration's centroids persist (K rows): the next
          // assignment would otherwise re-execute every prior pass
          cent = a
            .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
            .groupBy(col("cid"), col("dim"))
            .agg((sum(col("x").cast(DecimalType(27, 12))).cast("double") /
              count(lit(1))).as("m"))
            .groupBy(col("cid"))
            .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
              .as("cv"))
          cent = CacheScope.track(cent.persist())
        }
        assign(cent)
          .groupBy(col("cid"))
          .agg(
            count(lit(1)).as("n_members"),
            round(sum(col("d").cast(DecimalType(27, 12))).cast("double"), 6)
              .as("inertia"))
          .orderBy(col("cid"))
      },
      Some {
        val dist =
          "list_sum(list_transform(list_zip(v, cv), z -> (z[1] - z[2]) * (z[1] - z[2])))"
        def assign(centCte: String, name: String) =
          s"""$name AS (
             |  SELECT vec_id, cid, v, d FROM (
             |    SELECT e.vec_id, c.cid, e.v, $dist AS d,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY $dist, c.cid) AS rk
             |    FROM e CROSS JOIN $centCte c) WHERE rk = 1)""".stripMargin
        def recompute(assignCte: String, name: String) =
          s"""$name AS (
             |  SELECT cid, list(m ORDER BY dim) AS cv FROM (
             |    SELECT cid, dim,
             |      CAST(SUM(CAST(v[dim] AS DECIMAL(27,12))) AS DOUBLE)
             |        / COUNT(*) AS m
             |    FROM $assignCte, unnest(generate_series(1, 64)) t(dim)
             |    GROUP BY cid, dim)
             |  GROUP BY cid)""".stripMargin
        s"""WITH e AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |cent0 AS (
           |  SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e
           |  WHERE vec_id < 8),
           |${assign("cent0", "a0")},
           |${recompute("a0", "cent1")},
           |${assign("cent1", "a1")},
           |${recompute("a1", "cent2")},
           |${assign("cent2", "a2")}
           |SELECT cid, COUNT(*) AS n_members,
           |  round(CAST(SUM(CAST(d AS DECIMAL(27,12))) AS DOUBLE), 6)
           |    AS inertia
           |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin
      }),

    // ---- int8 embedding quantization — the 100 TB embedding-storage
    //      pattern (4 bytes/dim -> 1): symmetric per-vector scale
    //      max|x|/127, q = floor(x/scale + 0.5) (explicit half-up so both
    //      engines round identically), reconstruction error bounded by
    //      scale/2. Columnar HOFs only — no UDF, no shuffle.
    QueryDef(
      "vec_quantize",
      (s, d) => {
        val e = Tables.t(s, d, "embeddings").select(
          col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("scale",
            greatest(expr("array_max(transform(v, x -> abs(x)))") / 127.0,
              lit(1e-12)))
          .withColumn("q", expr("transform(v, x -> floor(x / scale + 0.5))"))
        e.select(
            col("vec_id"),
            round(col("scale"), 9).as("scale9"),
            expr("array_max(transform(q, x -> abs(x)))").cast("int")
              .as("max_q"),
            expr("array_max(transform(zip_with(v, q, (a, b) -> abs(a - b * scale)), x -> x))")
              .leq(col("scale") * 0.5 + 1e-9).as("recon_ok"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
                SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              sc AS (
                SELECT vec_id, v,
                  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                    1e-12) AS scale
                FROM e),
              q AS (
                SELECT vec_id, v, scale,
                  list_transform(v, x -> floor(x / scale + 0.5)) AS qv
                FROM sc)
              SELECT vec_id,
                round(scale, 9) AS scale9,
                CAST(list_max(list_transform(qv, x -> abs(x))) AS INT) AS max_q,
                list_max(list_transform(list_zip(v, qv),
                  z -> abs(z[1] - z[2] * scale))) <= scale * 0.5 + 1e-9
                  AS recon_ok
              FROM q ORDER BY vec_id""")),

    // ---- product quantization codebooks — THE billion-vector ANN
    //      compression (64 dims -> M=4 one-byte codes): each 16-dim
    //      subspace gets its own K=8 k-means codebook (2 deterministic
    //      Lloyd iterations, exact-DECIMAL sums so both engines produce
    //      bit-identical centroids). Training shuffles only (m, cid,
    //      dim)-keyed partial aggregates; assignment is an equi-join on
    //      the subspace id against 32 broadcast centroids — the corpus
    //      never shuffles. Reported per (subspace, code): member count
    //      and inertia, the codebook-quality stats a PQ index build
    //      monitors.
    QueryDef(
      "vec_pq_codebook",
      (s, d) => {
        val (sub, cent) = pqTrain(s, d)
        pqAssign(sub, cent)
          .groupBy(col("m"), col("cid"))
          .agg(
            count(lit(1)).as("n_members"),
            round(sum(col("dd").cast(DecimalType(27, 12))).cast("double"), 6)
              .as("inertia"))
          .orderBy(col("m"), col("cid"))
      },
      Some(
        s"""WITH ${PqSql.trained},
           |${PqSql.assign("cent2", "a2")}
           |SELECT m, cid, COUNT(*) AS n_members,
           |  round(CAST(SUM(CAST(dd AS DECIMAL(27,12))) AS DOUBLE), 6)
           |    AS inertia
           |FROM a2 GROUP BY m, cid ORDER BY m, cid""".stripMargin)),

    // ---- PQ asymmetric distance computation (ADC) — the billion-vector
    //      query path that pairs with vec_pq_codebook: the probe computes
    //      a distance TABLE to the 32 codebook entries once (4×8, a
    //      broadcast constant), and every corpus vector scores as the sum
    //      of 4 table lookups on its codes — the corpus is touched only
    //      through its 4-byte code row, never its raw floats. Scoring is
    //      an equi-join (m, cid) + per-(probe, vec) sum; exact-DECIMAL
    //      accumulation keeps the ranking bit-identical across engines.
    QueryDef(
      "sim_pq_adc",
      (s, d) => {
        val (sub, cent) = pqTrain(s, d)
        val codes = pqAssign(sub, cent)
          .select(col("vec_id"), col("m"), col("cid"))
        val probes = sub.filter(col("vec_id") < 3)
          .select(col("vec_id").as("probe_id"), col("m").as("pm"),
            col("sv").as("psv"))
        val dtab = probes.join(broadcast(cent), col("pm") === col("m"))
          .select(col("probe_id"), col("m"), col("cid"),
            gvec.vecL2Sq(col("psv"), col("cv")).as("dt"))
        val rank = Window.partitionBy(col("probe_id"))
          .orderBy(col("adc_dec"), col("vec_id"))
        codes.join(broadcast(dtab), Seq("m", "cid"))
          .groupBy(col("probe_id"), col("vec_id"))
          .agg(sum(col("dt").cast(DecimalType(27, 12))).as("adc_dec"))
          .withColumn("rk", row_number().over(rank))
          .filter(col("rk") <= 5)
          .select(col("probe_id"), col("rk"), col("vec_id"),
            round(col("adc_dec").cast("double"), 6).as("adc_dist"))
          .orderBy(col("probe_id"), col("rk"))
      },
      Some(
        s"""WITH ${PqSql.trained},
           |${PqSql.assign("cent2", "codes0")},
           |codes AS (SELECT vec_id, m, cid FROM codes0),
           |probes AS (
           |  SELECT vec_id AS probe_id, m AS pm, sv AS psv
           |  FROM es WHERE vec_id < 3),
           |dtab AS (
           |  SELECT probe_id, c.m, c.cid,
           |    list_sum(list_transform(list_zip(psv, cv),
           |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dt
           |  FROM probes p JOIN cent2 c ON p.pm = c.m),
           |scored AS (
           |  SELECT probe_id, vec_id,
           |    SUM(CAST(dt AS DECIMAL(27,12))) AS adc_dec
           |  FROM codes JOIN dtab USING (m, cid)
           |  GROUP BY probe_id, vec_id),
           |ranked AS (
           |  SELECT probe_id, vec_id, adc_dec,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY adc_dec, vec_id) AS rk
           |  FROM scored)
           |SELECT probe_id, rk, vec_id,
           |  round(CAST(adc_dec AS DOUBLE), 6) AS adc_dist
           |FROM ranked WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin)),

    // ---- ANN quality evaluation: recall@3 of the LSH-bucket and
    //      IVF(nprobe=2) indexes against the exact brute-force top-3,
    //      per probe — the missing quality metric for the ANN family.
    //      Every LSH or IVF candidate pair is also an exact pair, so all
    //      three top-3s come off ONE (probes × corpus) scored pass: each
    //      vector is annotated once with its sign-bit bucket and IVF
    //      lists, each pair carries its cosine and whether each index
    //      reaches it, three row_numbers over one probe partitioning rank
    //      it (an index's candidates first), and one aggregate counts each
    //      index's hits — no persist, no equi- or semi-join. At 100 TB
    //      this is how recall is audited: sample probes, one exact scan,
    //      all indexes scored off it.
    QueryDef(
      "ann_recall",
      (s, d) => {
        val e = emb(s, d)
        // the 8 centroids fold into ONE broadcast array row, as in
        // sim_ivf_nprobe
        val cands = e.filter(col("vec_id") < 8)
          .agg(collect_list(struct(col("vec_id").as("cent_id"),
            col("v").as("cv"))).as("cands"))
        val annotated = e.crossJoin(broadcast(cands)).select(
          col("vec_id"), col("v"), col("nrm"),
          // LSH: sim_lsh_bucket's sign-bit key, unrolled into plain
          // conditional sums that stay inside whole-stage codegen (the
          // aggregate()/lambda form is CodegenFallback)
          (0 until 8).map(j =>
            when(element_at(col("v"), j + 1) > 0, lit(1L << j))
              .otherwise(lit(0L))).reduce(_ + _).as("bucket"),
          // IVF(nprobe=2): a corpus vector's nearest list, a probe's two
          // nearest (array_sort + slice over the 8 candidate structs)
          gvec.vecArgminL2Sq(col("v"), col("cands")).getField("cid")
            .as("cent"),
          transform(slice(array_sort(transform(col("cands"),
            k => struct(gvec.vecL2Sq(col("v"), k.getField("cv")).as("d2"),
              k.getField("cent_id").as("cent_id")))), 1, 2),
            _.getField("cent_id")).as("cents"))
        val probes = annotated.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe"), col("v").as("pv"),
            col("nrm").as("pn"), col("bucket").as("pb"),
            col("cents").as("pcents"))
        val corpus = annotated.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("neighbor"), col("v").as("nv"),
            col("nrm").as("nn"), col("bucket").as("nb"),
            col("cent").as("ncent"))
        // in the top-3 by (cos desc, neighbor) among the pairs `ok` admits
        def top3(ok: Column*): Column = row_number().over(
          Window.partitionBy(col("probe"))
            .orderBy(ok.map(not) ++ Seq(col("cos").desc, col("neighbor")): _*)
        ) <= 3
        corpus.crossJoin(broadcast(probes))
          .select(col("probe"), col("neighbor"),
            (dot("pv", "nv") / (col("pn") * col("nn"))).as("cos"),
            (col("nb") === col("pb")).as("lsh_ok"),
            array_contains(col("pcents"), col("ncent")).as("ivf_ok"))
          .select(col("probe"), top3().as("exact"),
            (col("lsh_ok") && top3(col("lsh_ok"))).as("lsh"),
            (col("ivf_ok") && top3(col("ivf_ok"))).as("ivf"))
          .groupBy(col("probe"))
          .agg(count(when(col("exact") && col("ivf"), 1)).as("ivf_hits"),
            count(when(col("exact") && col("lsh"), 1)).as("lsh_hits"))
          .select(col("probe"), expr(
            "stack(2, 'ivf_nprobe', ivf_hits, 'lsh', lsh_hits) AS (idx, hits)"))
          .select(col("idx"), col("probe"), col("hits"),
            (col("hits").cast("double") / 3.0).as("recall"))
          .orderBy(col("idx"), col("probe"))
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              nv AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              exact AS (
                SELECT probe, neighbor FROM (
                  SELECT p.vec_id AS probe, n.vec_id AS neighbor,
                    row_number() OVER (PARTITION BY p.vec_id ORDER BY
                      list_dot_product(p.v, n.v) / (p.nrm * n.nrm) DESC,
                      n.vec_id) AS rk
                  FROM nv p JOIN nv n ON p.vec_id < 5 AND n.vec_id >= 5)
                WHERE rk <= 3),
              b AS (
                SELECT vec_id, v, nrm,
                  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END) +
                  (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END) +
                  (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) +
                  (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) +
                  (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END) +
                  (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) +
                  (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END) +
                  (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket
                FROM nv),
              lsh AS (
                SELECT probe, neighbor FROM (
                  SELECT p.vec_id AS probe, n.vec_id AS neighbor,
                    row_number() OVER (PARTITION BY p.vec_id ORDER BY
                      list_dot_product(p.v, n.v) / (p.nrm * n.nrm) DESC,
                      n.vec_id) AS rk
                  FROM b p JOIN b n ON p.bucket = n.bucket
                    AND p.vec_id < 5 AND n.vec_id >= 5)
                WHERE rk <= 3),
              cents AS (
                SELECT vec_id AS cent_id, v AS cv FROM nv WHERE vec_id < 8),
              ranked AS (
                SELECT n.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY n.vec_id ORDER BY
                    list_sum(list_transform(list_zip(n.v, c.cv),
                      z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS crk
                FROM nv n CROSS JOIN cents c),
              icorpus AS (
                SELECT nv.vec_id AS neighbor, nv.v, nv.nrm, r.cent_id AS cent
                FROM nv JOIN ranked r ON nv.vec_id = r.vec_id AND r.crk = 1
                WHERE nv.vec_id >= 5),
              iprobes AS (
                SELECT nv.vec_id AS probe, nv.v, nv.nrm, r.cent_id AS cent
                FROM nv JOIN ranked r ON nv.vec_id = r.vec_id AND r.crk <= 2
                WHERE nv.vec_id < 5),
              iscored AS (
                SELECT DISTINCT p.probe, c.neighbor,
                  list_dot_product(p.v, c.v) / (p.nrm * c.nrm) AS cos
                FROM iprobes p JOIN icorpus c ON p.cent = c.cent),
              ivf AS (
                SELECT probe, neighbor FROM (
                  SELECT probe, neighbor,
                    row_number() OVER (PARTITION BY probe
                      ORDER BY cos DESC, neighbor) AS rk
                  FROM iscored) WHERE rk <= 3),
              plist AS (SELECT vec_id AS probe FROM nv WHERE vec_id < 5),
              lr AS (
                SELECT a.probe, COUNT(*) AS h FROM lsh a
                JOIN exact x ON a.probe = x.probe AND a.neighbor = x.neighbor
                GROUP BY a.probe),
              ir AS (
                SELECT a.probe, COUNT(*) AS h FROM ivf a
                JOIN exact x ON a.probe = x.probe AND a.neighbor = x.neighbor
                GROUP BY a.probe)
              SELECT * FROM (
                SELECT 'ivf_nprobe' AS idx, p.probe,
                  COALESCE(ir.h, 0) AS hits,
                  CAST(COALESCE(ir.h, 0) AS DOUBLE) / 3.0 AS recall
                FROM plist p LEFT JOIN ir ON p.probe = ir.probe
                UNION ALL
                SELECT 'lsh' AS idx, p.probe,
                  COALESCE(lr.h, 0) AS hits,
                  CAST(COALESCE(lr.h, 0) AS DOUBLE) / 3.0 AS recall
                FROM plist p LEFT JOIN lr ON p.probe = lr.probe)
              ORDER BY idx, probe"""))
  )
}
