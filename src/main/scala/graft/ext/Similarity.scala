package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (builder brief + SURVEY §7.4):
  * brute-force cosine top-k as the exact baseline, a sign-bucket LSH
  * variant as the scale path, and cosine near-dup pairs.
  *
  * Numeric design: embeddings are quantized to integers
  * (round(x·1000)) before the dot product, so accumulation is exact
  * integer arithmetic — order-independent, reproducible across engines
  * and across partitionings (a float dot product re-ordered by a shuffle
  * changes low bits; an integer one never does). The norm/ratio math then
  * happens once per pair in double precision.
  *
  * Scale design: brute force is a broadcast of the (tiny) query set
  * against a scan of the corpus — embarrassingly parallel, no shuffle of
  * the corpus. Top-k per query is a partial top-k per partition
  * (window over broadcast-joined rows would shuffle; we use
  * TakeOrdered-style aggregation via groupBy + slice of sorted collect
  * only at tiny k... see `topK`). The LSH path prunes candidates by
  * sign-pattern bucket before any distance math.
  */
object Similarity {

  /** Quantize a float/double array column to integers: round(x·1000). */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  /** The ±1 sign matrix for [[randomProject]], derived driver-side from
    * the SAME md5 formula [[graft.functions.Hashing.hash64]] compiles
    * into expressions — `signProjSigns(d,k,seed)(j)(i)` is the sign an
    * engine-side `pmod(hash64(concat(seed,'|',i,'|',j)), 2)·2−1` would
    * produce, so an oracle can re-derive every sign in SQL while the
    * Spark plan carries the O(d·k) matrix as plain literals (zero
    * hashing at runtime — the matrix is model state, not data).
    */
  def signProjSigns(inDim: Int, outDim: Int,
                    seed: Int): Array[Array[Long]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val hex = digest.digest(s"$seed|$i|$j".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.substring(0, 15)
        (java.lang.Long.parseLong(hex, 16) % 2L) * 2L - 1L
      }
    }
  }

  /** Sign random projection (Achlioptas 2003 with ±1 entries): map
    * `inDim`-dimensional embeddings to `outDim` coordinates
    * p_j = Σ_i s_ij·q_i over the QUANTIZED vector — every output is an
    * exact integer (emitted as double, < 2⁵³), so the projection is
    * bit-identical on any engine, any partitioning, with no
    * transcendental anywhere. The dimensionality-reduction front end
    * for ANN at scale: downstream distance math costs outDim/inDim of
    * the original, and Johnson–Lindenstrauss bounds the dot-product
    * distortion.
    *
    * Plan shape: one row-local projection per vector — no shuffle, no
    * join, no per-row hashing; the sign matrix rides the plan as
    * literals the same way k-means codebooks do. Each coordinate is
    * one fused codegen'd [[dotQ]] loop against its literal sign row
    * (the composed zip_with+aggregate form ran outDim interpreted HOF
    * folds per row); the quantized vector is materialized ONCE in its
    * own projection — HOFs sit outside codegen CSE (the round-1
    * shinglesOf lesson), so leaving `quantize` inline would re-run the
    * transform once per output coordinate.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int, seed: Int = 0): DataFrame = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    val signs = signProjSigns(inDim, outDim, seed)
    val proj = array(signs.toIndexedSeq.map { row =>
      graft.functions.native_fns
        .quantized_dot(col("__q"), lit(row)).cast("double")
    }: _*)
    emb.select(col(idCol), quantize(col(vecCol)).as("__q"))
      .select(col(idCol), proj.as("proj"))
  }

  /** Exact integer dot product of two quantized vectors (cast to double
    * at the end so engines whose list arithmetic is double-typed compare
    * equal — the value is exact either way, integers < 2^53). Runs
    * through the fused native expression (single codegen'd loop, no
    * intermediate array); `dotQComposed` is the built-in composition,
    * kept as the equivalence reference.
    */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.native_fns.quantized_dot(a, b).cast("double")

  /** (dist, cell) structs against every literal codebook centroid, for
    * a MATERIALIZED quantized vector column `v` whose self-dot `vv`
    * was precomputed once per row (in a separate projection — HOF and
    * repeated-subexpression results must be materialized attributes,
    * the randomProject/shinglesOf rule): squared L2 decomposes as
    * `‖v‖² − 2·v·c + ‖c‖²`, every term an exact integer, so the value
    * is bit-identical to the zip_with `Σ(x−y)²` fold it replaces while
    * running ONE fused codegen'd quantized_dot per centroid (the fold
    * was |dim| interpreted lambda steps per centroid) and sharing the
    * `‖v‖²` leg across all |codebook| evaluations. ‖c‖² folds at plan
    * time.
    */
  private def centroidDists(v: Column, vv: Column,
                            codebook: Seq[(Long, Seq[Long])]): Seq[Column] =
    codebook.map { case (cell, cvec) =>
      val cc = cvec.map(x => x * x).sum
      struct((vv - lit(2L) * graft.functions.native_fns
          .quantized_dot(v, lit(cvec.toArray)) + lit(cc)).as("dist"),
        lit(cell).as("cell"))
    }

  /** Built-in composition of the same dot product (equivalence oracle
    * for [[dotQ]]; allocates a zipped array per evaluation).
    */
  def dotQComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
      .cast("double")

  /** Cosine similarity on quantized vectors. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b) / (sqrt(dotQ(a, a)) * sqrt(dotQ(b, b)))

  /** Brute-force cosine top-k: for each query vector (a small id set),
    * the k nearest corpus vectors by cosine, ties broken by candidate id.
    * The query side is broadcast; the corpus is scanned once; ranking is
    * a window partitioned by query id over the (|queries|·|corpus|)
    * joined rows — shuffle keyed by query id only.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
    val c = emb.select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosineQ(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Sign-pattern LSH bucket: the first `bits` dimensions' signs packed
    * into an integer. Vectors only compete within their bucket — a
    * 2^bits-way partition prune of the candidate space. Dimensions past
    * the vector's length contribute 0 (`try_element_at` null falls to the
    * otherwise-branch), matching SQL engines where an out-of-bounds list
    * index is NULL — short vectors bucket consistently on both sides.
    */
  def signBucket(vec: Column, bits: Int): Column =
    (0 until bits).map(j =>
      when(try_element_at(vec, lit(j + 1)).cast("double") >= 0, lit(1L << j))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  /** Multi-table sign-LSH entries: `tables` hash tables, table t keyed
    * by the signs of dimensions [t·bits, (t+1)·bits). Two vectors are
    * candidates when they collide in ANY table — the standard LSH
    * OR-construction. A single table (the round-2 shape) has collision
    * probability p^bits per pair (p = per-hyperplane agreement), which
    * at cosine ~0.3 is ~2% — measured recall 0.02; L tables lift that to
    * 1−(1−p^bits)^L (~0.3 at the same similarity) while still scanning
    * only ~L/2^bits of the pair space. Axis-aligned hyperplanes (vs
    * random projections) keep the bucket expression reproducible in
    * portable SQL; the table offset supplies dimension diversity.
    * Returns array<struct<tbl, bucket>>.
    */
  def signBands(vec: Column, tables: Int, bits: Int): Column =
    array((0 until tables).map { t =>
      val bucket = (0 until bits).map(j =>
        when(try_element_at(vec, lit(t * bits + j + 1)).cast("double") >= 0,
          lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }: _*)

  /** Multi-probe expansion of [[signBands]] for the QUERY side: per
    * table, the home bucket plus the `bits` buckets at Hamming
    * distance 1 (each sign bit flipped once) — Lv et al.'s multi-probe
    * LSH. A near neighbor that landed just across one hyperplane is
    * found without adding tables: recall rises at the cost of probing
    * (bits+1)× buckets per table, applied only to the tiny query set —
    * the corpus keeps one home bucket per table, so index size and the
    * big side of the join are unchanged.
    */
  def signBandsMultiProbe(vec: Column, tables: Int, bits: Int): Column =
    signBandsMultiProbeDirected(vec, tables, bits, maxProbes = bits)

  /** QUERY-DIRECTED multi-probe (the full Lv et al. scheme): per table,
    * the home bucket plus only the `maxProbes` flips with the SMALLEST
    * sign margin — for axis-aligned sign hyperplanes the margin of bit
    * j is simply |coordinate j|, so the best flips are the coordinates
    * closest to zero (a neighbor most plausibly sits just across those
    * hyperplanes). `maxProbes = bits` degenerates to probing every
    * Hamming-1 bucket. Ties in |coord| break to the lower bit index —
    * deterministic, so the probe set is engine-portable and the DuckDB
    * oracle re-derives it. Row-local: the flip ranking is an
    * `array_sort` of `bits` (|coord|, bit) structs inside the
    * projection — no shuffle, applied only to the query set.
    */
  def signBandsMultiProbeDirected(vec: Column, tables: Int, bits: Int,
                                  maxProbes: Int): Column = {
    require(maxProbes >= 0 && maxProbes <= bits,
      s"need 0 <= maxProbes <= bits, got $maxProbes")
    array((0 until tables).flatMap { t =>
      def coord(j: Int) =
        try_element_at(vec, lit(t * bits + j + 1)).cast("double")
      val bucket = (0 until bits).map(j =>
        when(coord(j) >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      // rank the bits by |margin|; array_sort on (abs, bit) structs
      // orders lexicographically, so equal margins tie to the lower bit
      val ranked = array_sort(array((0 until bits).map(j =>
        struct(abs(coord(j)).as("m"), lit(j).as("j"))): _*))
      val pow2 = array((0 until bits).map(j => lit(1L << j)): _*)
      struct(lit(t).as("tbl"), bucket.as("bucket")) +:
        (0 until maxProbes).map { r =>
          val bit = element_at(ranked, r + 1).getField("j")
          struct(lit(t).as("tbl"),
            bucket.bitwiseXOR(element_at(pow2, bit + 1)).as("bucket"))
        }
    }: _*)
  }

  /** LSH-bucketed approximate top-k: same contract as [[bruteForceTopK]]
    * but candidates are pruned to sign-bucket collisions in any of
    * `tables` tables first. Recall/cost trades on (tables, bits); at
    * 100 TB this is the difference between scanning the corpus per
    * query and scanning ~tables/2^bits of it. The multi-table hit list
    * is deduped before scoring so a pair colliding in several tables is
    * scored once. `multiProbe` additionally probes Hamming-distance-1
    * query buckets ([[signBandsMultiProbeDirected]]): all `bits` flips
    * by default — measured recall@10 rises from 0.38 to 0.98 on the
    * test embeddings at (8 tables, 6 bits) — or, with `maxProbes` set,
    * only the smallest-margin flips (query-directed probing):
    * maxProbes=2 measures recall 0.70 at ~home-bucket cost (0.75 s vs
    * 0.79 s home / 1.05 s full-probe standalone at sf0.1). The
    * expansion applies to the probed queries only; the corpus index is
    * unchanged either way.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, bits: Int = 6,
              tables: Int = 8, multiProbe: Boolean = false,
              maxProbes: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Stage-chain shape (r15 rewrite, guide §2.4 — the r14 verdict's
    // top perf task): the r14 form shuffled ids only and re-attached
    // each side's vector post-distinct via a second corpus scan + two
    // more joins — 4 scans, 3 broadcasts and 3 shuffle exchanges, a
    // 7-stage sequential chain whose per-stage fixed cost dominated
    // (probe: every stage < 150 ms, 1 task). This form:
    //   - ONE query-side broadcast carrying both the probe entries and
    //     the quantized query vector (|queries| x tables x (1+probes)
    //     rows — KB-sized by the operator's contract);
    //   - the corpus scan carries its own quantized vector into the
    //     collision join, so matched candidates are scored map-side and
    //     no second corpus scan / vector-attach join exists;
    //   - ONE exchange hash-partitioned on query_id serves the
    //     multi-table dedup (groupBy query_id, cand_id — a subset
    //     partitioning satisfies the aggregate's distribution), the
    //     top-k window AND its partial WindowGroupLimit.
    // Scale note: the exchange carries (ids, cosine) for collision hits
    // only — multi-table duplicates ≤ tables x (1+probes) per true pair,
    // each a 24-byte row; the corpus itself is never reshuffled. Skew
    // on query_id matches the window's own requirement (exact per-query
    // top-k serializes per query regardless).
    // per table the home bucket and its probe flips are all distinct,
    // so q needs no dedup; the (query,cand) groupBy below collapses
    // multi-table/multi-probe hits
    // quantize and the norm are materialized BELOW the explode (chained
    // selects): as part of the Generate's output projection they would
    // re-run once per generated band row (the shinglesOf rule). The
    // norm is computed once per VECTOR so a collision row costs ONE
    // fused dot product, not three — sqrt(v·v) here is bit-identical to
    // sqrt-at-pair-time, and dot/(nq·nc) is the same IEEE op sequence
    // as [[cosineQ]]'s dot/(sqrt·sqrt).
    val qBase = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"),
        col(vecCol).as("__vec"))
      .withColumn("nq", sqrt(dotQ(col("qv"), col("qv"))))
    val q = (if (!multiProbe) {
      qBase.select(col("query_id"), col("qv"), col("nq"),
        explode(signBands(col("__vec"), tables, bits)).as("tb"))
    } else {
      // Same probe set as [[signBandsMultiProbeDirected]], built with
      // the per-table home bucket and margin ranking materialized as
      // ATTRIBUTES below the explode. The single-Column form inlines a
      // full copy of the array_sort margin subtree into every probe
      // entry — a ~4600-node expression tree that cost 0.35-0.5 s PER
      // ACTION in the Catalyst optimizer (measured by timing planning alone;
      // guide §7.3 "planning time itself can become the bottleneck").
      // Attribute references shrink the tree ~4x with bit-identical
      // probe buckets (same expressions, evaluated once per table).
      val probes = math.min(bits, maxProbes)
      def coord(t: Int, j: Int) =
        try_element_at(col("__vec"), lit(t * bits + j + 1)).cast("double")
      val withTbl = qBase.select(
        Seq(col("query_id"), col("qv"), col("nq")) ++
          (0 until tables).flatMap { t =>
            val bucket = (0 until bits).map(j =>
              when(coord(t, j) >= 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_ + _)
            val ranked = array_sort(array((0 until bits).map(j =>
              struct(abs(coord(t, j)).as("m"), lit(j).as("j"))): _*))
            Seq(bucket.as(s"__b$t"), ranked.as(s"__r$t"))
          }: _*)
      val pow2 = array((0 until bits).map(j => lit(1L << j)): _*)
      val entries = array((0 until tables).flatMap { t =>
        struct(lit(t).as("tbl"), col(s"__b$t").as("bucket")) +:
          (0 until probes).map { r =>
            val bit = element_at(col(s"__r$t"), r + 1).getField("j")
            struct(lit(t).as("tbl"),
              col(s"__b$t").bitwiseXOR(element_at(pow2, bit + 1))
                .as("bucket"))
          }
      }: _*)
      withTbl.select(col("query_id"), col("qv"), col("nq"),
        explode(entries).as("tb"))
    }).select(col("query_id"), col("qv"), col("nq"),
      col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val c = emb
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("cv"),
        col(vecCol).as("__vec"))
      .withColumn("nc", sqrt(dotQ(col("cv"), col("cv"))))
      .select(col("cand_id"), col("cv"), col("nc"),
        explode(signBands(col("__vec"), tables, bits)).as("tb"))
      .select(col("cand_id"), col("cv"), col("nc"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (dotQ(col("qv"), col("cv")) / (col("nq") * col("nc")))
          .as("cosine"))
      .repartition(col("query_id"))
      // max == the single distinct cosine of the pair (dup rows are the
      // same two vectors); grouping rides the query_id partitioning
      .groupBy(col("query_id"), col("cand_id"))
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** One Lloyd (k-means) iteration — the training step that turns
    * [[ivfTopK]]'s fixed coarse centroids into learned ones. The
    * codebook is a driver-side PARAMETER (quantized vectors), not a
    * DataFrame: codebooks are KB-sized metadata, and inlining them as
    * literals keeps assignment row-local — distance to every centroid
    * and the argmin (ties to the lowest cell) evaluate inside the scan
    * projection with zero joins and zero shuffles. The only exchange is
    * the per-(cell, dim) mean: map-side partial sums collapse the
    * corpus to at most C·d rows regardless of input size. All
    * arithmetic is exact (integer squared-L2; means divide an exact
    * long sum by an exact count, rounded to 6dp), so the step is
    * bit-reproducible under any partitioning.
    *
    * Returns (cell, dim, mean_q, n_members) rows; cells that won no
    * vectors are absent (the standard empty-cell outcome — reseed or
    * drop at the training loop level).
    */
  def lloydStep(emb: DataFrame, idCol: String, vecCol: String,
                codebook: Seq[(Long, Seq[Long])]): DataFrame = {
    require(codebook.nonEmpty, "empty codebook")
    val assigned = emb
      .select(col(idCol), quantize(col(vecCol)).as("v"))
      .withColumn("__vv", graft.functions.native_fns
        .quantized_dot(col("v"), col("v")))
      .select(col(idCol), col("v"),
        array_min(array(centroidDists(col("v"), col("__vv"),
          codebook): _*)).getField("cell").as("cell"))
    assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(round(sum(col("x")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_q"),
        count(lit(1)).as("n_members"))
  }

  /** Simplified (centroid-based) silhouette per vector — the
    * clustering-quality diagnostic for the kmeans/semDedup/dbscan
    * family: a = Euclidean distance to the OWN centroid, b = distance
    * to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]
    * (negative = probably mis-assigned). The full silhouette's
    * all-pairs term is O(n²); the centroid form is the standard
    * at-scale surrogate and is entirely ROW-LOCAL against the literal
    * codebook (the [[lloydStep]] argmin pattern — no join, no
    * shuffle). Distances: exact integer squared sums → one
    * correctly-rounded sqrt each; assignment ties break to the
    * smallest cell id via the (dist, cell) struct min.
    *
    * Output: (id, cell, a, b, silhouette), silhouette rounded to 6 dp.
    */
  def silhouette(emb: DataFrame, idCol: String, vecCol: String,
                 codebook: Seq[(Long, Seq[Long])]): DataFrame = {
    require(codebook.size >= 2, "silhouette needs >= 2 clusters")
    emb.select(col(idCol), quantize(col(vecCol)).as("__v"))
      .withColumn("__vv", graft.functions.native_fns
        .quantized_dot(col("__v"), col("__v")))
      .withColumn("__all", array_sort(array(centroidDists(col("__v"),
        col("__vv"), codebook): _*)))
      .select(col(idCol),
        col("__all").getItem(0).getField("cell").as("cell"),
        sqrt(col("__all").getItem(0).getField("dist").cast("double"))
          .as("a"),
        sqrt(col("__all").getItem(1).getField("dist").cast("double"))
          .as("b"))
      .withColumn("silhouette",
        when(greatest(col("a"), col("b")) > 0.0,
          round((col("b") - col("a")) /
            greatest(col("a"), col("b")), 6))
          .otherwise(0.0)) // duplicate centroids: defined as 0
  }

  /** Full k-means training loop over [[lloydStep]]: each round runs one
    * distributed step and collects the C·d mean rows (KB-sized) back
    * into the next round's literal codebook — the iterative-algorithm
    * pattern on Spark: per-iteration driver state is O(model), never
    * O(data), and each iteration is one scan + one C·d-row exchange.
    * Seeds are the quantized vectors of `seedIds` (deterministic, like
    * [[ivfTopK]]'s fixed centroids). Empty cells keep their previous
    * centroid. Means re-quantize HALF_UP onto the integer grid so every
    * round's codebook (and therefore the whole run) is bit-reproducible
    * under any partitioning. Returns the final codebook.
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String,
             seedIds: Seq[Long], iters: Int): Seq[(Long, Seq[Long])] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val seeds: Seq[(Long, Seq[Long])] = emb
      .filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol), quantize(col(vecCol)).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => i.toLong -> v }.toIndexedSeq
    (1 to iters).foldLeft(seeds) { (codebook, _) =>
      val d = codebook.head._2.size
      val means = lloydStep(emb, idCol, vecCol, codebook)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      codebook.map { case (cell, prev) =>
        cell -> (0 until d).map(j => means.get(cell -> j)
          .map(m => BigDecimal(m)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
          .getOrElse(prev(j)))
      }
    }
  }

  /** Within-cluster sum of squared (quantized) distances — the k-means
    * objective; one scan, same literal-codebook argmin as the step.
    */
  def inertia(emb: DataFrame, idCol: String, vecCol: String,
              codebook: Seq[(Long, Seq[Long])]): Double = {
    emb.select(quantize(col(vecCol)).as("v"))
      .withColumn("__vv", graft.functions.native_fns
        .quantized_dot(col("v"), col("v")))
      .select(array_min(array(centroidDists(col("v"), col("__vv"),
        codebook): _*)).getField("dist").as("d"))
      .agg(sum(col("d"))).head().getLong(0).toDouble
  }

  /** IVF search over an explicit (learned) codebook — [[ivfTopK]] with
    * [[kmeans]] output instead of fixed member vectors. Assignment uses
    * the same join-free literal-codebook argmin as [[lloydStep]]
    * (integer squared-L2; for assignment on same-scale quantized
    * vectors, nearest-by-L2 is the IVF partition rule), so building the
    * inverted file costs one scan and zero joins; the probe then
    * equi-joins query cells to candidate cells exactly like ivfTopK.
    */
  def ivfTopKCodebook(emb: DataFrame, idCol: String, vecCol: String,
                      codebook: Seq[(Long, Seq[Long])], queryIds: Seq[Long],
                      k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && codebook.nonEmpty)
    def scored = centroidDists(col("v"), col("__vv"), codebook)
    def assign(vecs: DataFrame, probes: Int): DataFrame = {
      val base = vecs.select(col(idCol), quantize(col(vecCol)).as("v"))
        .withColumn("__vv", graft.functions.native_fns
          .quantized_dot(col("v"), col("v")))
      if (probes == 1)
        base.select(col(idCol), col("v"),
          array_min(array(scored: _*)).getField("cell").as("cell"))
      else
        base.select(col(idCol), col("v"),
          explode(slice(array_sort(array(scored: _*)), 1, probes)
            .getField("cell")).as("cell"))
    }
    val q = assign(emb.filter(col(idCol).isin(queryIds: _*)), nprobe)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("cell"))
    val c = assign(emb, 1).select(col(idCol).as("cand_id"),
      col("v").as("cv"), col("cell"))
    val scoredPairs = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosineQ(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scoredPairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup-style semantic dedup: cluster the corpus with a (learned
    * or fixed) codebook, then prune near-duplicates WITHIN each cluster
    * — a document is dropped when a lower-id same-cell document has
    * cosine ≥ `threshold`. The cluster equi-join is what makes this a
    * scale operator: the quadratic term is bounded by cluster size
    * (pick C so n/C stays ~10⁴ and each cell's pair block fits an
    * executor), instead of the corpus-wide all-pairs a flat threshold
    * scan would need. Assignment is the join-free literal-codebook
    * argmin of [[lloydStep]]; survivors return as (id, cell).
    *
    * Keep rule is "no lower-id near-dup in my cell" (the exact-dedup
    * survivor convention), not transitive closure — chains longer than
    * one hop keep their local minima, which is SemDeDup's published
    * behavior (one representative per epsilon-ball, greedy by id).
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               codebook: Seq[(Long, Seq[Long])],
               threshold: Double): DataFrame = {
    require(codebook.nonEmpty, "empty codebook")
    // referenced three times (both pair sides + the survivor anti-join);
    // the |codebook| distance evaluations per row are the dominant
    // compute, so materialize the assignment ONCE (lazy checkpoint)
    // rather than re-running it per reference
    val assigned = emb
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("v"))
      .withColumn("__vv", graft.functions.native_fns
        .quantized_dot(col("v"), col("v")))
      .select(col("__id"), col("v"),
        array_min(array(centroidDists(col("v"), col("__vv"),
          codebook): _*)).getField("cell").as("cell"),
        // norm once per VECTOR, not per pair — cuts the pair-stage
        // dot products 3x; sqrt here equals sqrt-at-pair-time exactly;
        // ‖v‖² is already materialized for the centroid distances
        sqrt(col("__vv").cast("double")).as("nrm"))
      .localCheckpoint(false)
    val a = assigned.select(col("cell"), col("__id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("__id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotQ(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("id_b").as("__id")).distinct()
    assigned.join(dropped, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("cell"))
  }

  /** IVF (inverted-file) ANN: a fixed set of `centroidIds` vectors act as
    * coarse centroids; every vector is assigned to its nearest centroid
    * (argmax cosine, ties to the lowest centroid id), giving an inverted
    * list per cell. A query searches only its own cell — the IVF nprobe=1
    * scheme. Centroid assignment is a broadcast of C tiny vectors against
    * one corpus scan; at scale the cell id becomes a partition/bucket key
    * so a query touches 1/C of the data. (Production would k-means the
    * centroids; a fixed id set keeps the operator deterministic and
    * oracle-checkable — the index structure is identical.)
    */
  /** The coarse-centroid table of an IVF index: `centroidIds` corpus
    * rows as (centroid_id, quantized vector).
    */
  private def centroidsOf(emb: DataFrame, idCol: String, vecCol: String,
                          centroidIds: Seq[Long]): DataFrame =
    emb.filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).as("centroid_id"), quantize(col(vecCol)).as("centv"))

  /** Nearest-centroid assignment (argmax cosine, ties to the lowest
    * centroid id): one broadcast of the C tiny centroid vectors against
    * a scan of `vecs`. `probes` > 1 keeps the top-n cells instead of
    * only the nearest — the IVF nprobe knob (recall grows with the
    * number of cells probed; cost grows as nprobe/C of the corpus per
    * query). Output: (idCol, v = quantized vector, centroid_id).
    */
  private def assignCells(vecs: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame, probes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vecs
      .select(col(idCol), quantize(col(vecCol)).as("v"))
      .join(broadcast(cents), lit(true))
      .select(col(idCol), col("v"), col("centroid_id"),
        cosineQ(col("v"), col("centv")).as("ccos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("ccos").desc, col("centroid_id"))))
      .filter(col("rk") <= probes)
      .select(col(idCol), col("v"), col("centroid_id"))
  }

  /** Collect the quantized centroid vectors as a driver-side literal
    * codebook — the kmeans/silhouette/lloydStep "codebooks are KB-sized
    * model state" convention (r15 rewrite). Quantization runs in Spark
    * (the same [[quantize]] expression the in-plan form used), so the
    * collected values are bit-identical by construction; sorted by
    * centroid id for a deterministic literal order.
    */
  private def collectCentroids(emb: DataFrame, idCol: String,
                               vecCol: String,
                               centroidIds: Seq[Long]): Seq[(Long, Seq[Long])] =
    centroidsOf(emb, idCol, vecCol, centroidIds)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
      .sortBy(_._1).toIndexedSeq

  /** Nearest-cells array against a LITERAL centroid codebook, sorted
    * best-first: array_sort over (m = −cosine, cell) structs — asc on
    * the negated cosine is the window's (cosine DESC, centroid_id)
    * discipline, ties to the lowest cell id via the struct's second
    * field. Exact-equivalence notes: negation of a double is exact;
    * ±0.0 ordering matches the window form (Double.compare semantics on
    * both paths); sqrt(Σc²) over the literal folds at plan time to the
    * identical double the in-plan sqrt(dotQ(centv,centv)) produced; a
    * zero-norm vector would make every m NaN and tie-break to the
    * lowest cell on both paths (mixed NaN cannot arise per vector —
    * cosine is NaN iff either norm is 0, and the vector's own norm is
    * shared across all centroids; the corpus has no zero-norm vectors
    * at any SF, verified r15). Requires `v` (quantized vector) and
    * `nv` (= sqrt(v·v)) as materialized attributes.
    */
  private def cellStructsLit(v: Column, nv: Column,
                             cents: Seq[(Long, Seq[Long])]): Seq[Column] =
    cents.map { case (cid, cvec) =>
      val cc = cvec.map(x => x * x).sum
      struct((-(graft.functions.native_fns
        .quantized_dot(v, lit(cvec.toArray)).cast("double") /
        (nv * sqrt(lit(cc).cast("double"))))).as("m"),
        lit(cid).as("cell"))
    }

  /** Best-first probe cells (query side, nprobe > 1): slice of the
    * sorted struct array. The corpus side (single cell) uses
    * `array_min` over the same structs instead — identical ordering,
    * and array_min is codegen-friendly where array_sort's comparator
    * is a CodegenFallback HOF (fine on a 5-row query side, not in a
    * corpus scan projection).
    */
  private def nearestCellsLit(v: Column, nv: Column,
                              cents: Seq[(Long, Seq[Long])]): Column =
    array_sort(array(cellStructsLit(v, nv, cents): _*))

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              centroidIds: Seq[Long], queryIds: Seq[Long], k: Int,
              nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // r15 rewrite (guide §1.2 step 1 — fix the distributed algorithm):
    // the r14 form assigned cells with a corpus x C nested-loop join
    // against a broadcast centroid TABLE plus a row_number window
    // partitioned BY VECTOR ID — i.e. it reshuffled the ENTIRE corpus
    // (xC rows) through an exchange to make a row-local argmax
    // decision. With the centroids inlined as a literal codebook
    // (KB-sized model state, the lloydStep/ivfTopKCodebook convention),
    // assignment is one fused codegen'd dot product per centroid inside
    // the scan projection: zero joins, zero corpus shuffles — at 100 TB
    // the difference between shuffling the corpus and not. Probe
    // measured the old chain at 7 sequential single-task stages; the
    // new plan is scan -> window exchange -> sort.
    val cents = collectCentroids(emb, idCol, vecCol, centroidIds)
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("nq", sqrt(dotQ(col("qv"), col("qv"))))
      .select(col("query_id"), col("qv"), col("nq"),
        explode(slice(nearestCellsLit(col("qv"), col("nq"), cents),
          1, nprobe).getField("cell")).as("cell"))
    // corpus vectors always live in exactly ONE cell (probes = 1), so a
    // query probing n cells never sees the same candidate twice. The
    // norm is materialized once per vector so each candidate pair costs
    // ONE dot product (dot/(nq·nc) is cosineQ's exact op sequence).
    val c = emb
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("cv"))
      .withColumn("nc", sqrt(dotQ(col("cv"), col("cv"))))
      .withColumn("cell",
        array_min(array(cellStructsLit(col("cv"), col("nc"), cents): _*))
          .getField("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (dotQ(col("qv"), col("cv")) / (col("nq") * col("nc")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Materialize an IVF index ON DISK with the cell id as the
    * PARTITION KEY — the "cell id becomes a partition/bucket key"
    * layout [[ivfTopK]]'s scaladoc promises, as a tested artifact.
    * Writes two tables under `dir`: `<name>` (idCol, v = quantized
    * vector) hive-partitioned by `cell`, and `<name>_centroids`
    * (centroid_id, centv). A probe then reads ONLY its probed cells'
    * directories — 1/C of the corpus per probed cell, enforced by the
    * scan's partition filters rather than by post-IO filtering.
    */
  def saveIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                   centroidIds: Seq[Long], dir: String,
                   name: String): Unit = {
    val cents = centroidsOf(emb, idCol, vecCol, centroidIds)
    graft.io.Tables.save(cents, dir, s"${name}_centroids")
    val assigned = assignCells(emb, idCol, vecCol, cents, probes = 1)
      .select(col(idCol), col("v"), col("centroid_id").as("cell"))
    graft.io.Tables.savePartitioned(assigned, dir, name, Seq("cell"))
  }

  /** Search a [[saveIvfIndex]] layout: assign the (tiny) query set to
    * its top-`nprobe` cells, collect the probed cell ids — a KB-sized
    * driver list, the inverted-file probe plan every IVF system builds
    * — and scan the index with `cell IN (probed)`, which Catalyst
    * turns into STATIC PARTITION PRUNING: only the probed directories
    * are listed or read (IvfIndexSpec asserts the scan's partition
    * count). Results are identical to the in-memory [[ivfTopK]] on the
    * same corpus/centroids — same assignment, same tie discipline.
    */
  /** The cells a query set would probe at `nprobe` — the KB-sized
    * driver list every IVF system materializes per query batch; public
    * so callers (and IvfIndexSpec) can reason about exactly which
    * partitions a probe touches.
    */
  def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                 dir: String, name: String, nprobe: Int): Seq[Long] = {
    val cents = graft.io.Tables.load(queries.sparkSession, dir,
      s"${name}_centroids")
    assignCells(queries, idCol, vecCol, cents, nprobe)
      .select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  def ivfTopKIndexed(queries: DataFrame, idCol: String, vecCol: String,
                     dir: String, name: String, k: Int,
                     nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val spark = queries.sparkSession
    val cents = graft.io.Tables.load(spark, dir, s"${name}_centroids")
    val q = assignCells(queries, idCol, vecCol, cents, nprobe)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("centroid_id").as("cell"))
    val probed = probeCells(queries, idCol, vecCol, dir, name, nprobe)
    val c = graft.io.Tables.load(spark, dir, name)
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol).as("cand_id"), col("v").as("cv"), col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosineQ(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- segmented (incremental) IVF index --------------------------------
  //
  // saveIvfIndex is build-once: refreshing a 100 TB vector corpus by
  // rebuilding the whole index per batch is the one maintenance shape
  // that does NOT scale. This is the text-index treatment
  // (Retrieval.appendTextIndexAs conventions, round-10 verdict task #5)
  // applied to vectors — the Lucene segment model:
  //
  //   <indexDir>/centroids.parquet              (centroid_id, centv),
  //                         fixed at init so every segment assigns with
  //                         the SAME cells (append-time assignment must
  //                         agree with init-time or probes miss vectors)
  //   <indexDir>/vectors.parquet/seg=<s>/cell=<c>/   (id, v)
  //   <indexDir>/_versions/<n>          committed segment sets
  //                         (graft.io.Segments, shared with Retrieval)
  //
  // Append writes ONLY the batch's segment tree (cost ∝ batch); queries
  // read every committed segment's PROBED cells (partition pruning on
  // both seg and cell) and merge by simple union — exact, because cell
  // membership is a per-vector property and segments hold disjoint ids.
  // Compaction folds the committed segments into one (cuts file-open
  // fan-out from |segments| back to 1 per cell); vacuum deletes
  // superseded trees after a retention window. Contract: a vector id
  // lives in exactly ONE segment (append-only corpus — dedup upstream).

  private def ivfSegCentroids(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/centroids.parquet")

  /** One segment's cell-partitioned vector tree; per-directory
    * overwrite keeps retries idempotent, visibility comes from the
    * caller's version commit. */
  private def writeIvfSegment(vecs: DataFrame, idCol: String,
                              vecCol: String, indexDir: String,
                              seg: Long): Unit = {
    val cents = ivfSegCentroids(vecs.sparkSession, indexDir)
    assignCells(vecs, idCol, vecCol, cents, probes = 1)
      .select(col(idCol).as("id"), col("v"), col("centroid_id").as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/vectors.parquet/seg=$seg")
  }

  /** Backfill: own the directory, persist the centroid model, write
    * segment 0, commit. `centroidIds` select the seed vectors from
    * `emb` exactly like [[ivfTopK]]. */
  def initIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                   centroidIds: Seq[Long], indexDir: String): Unit = {
    val spark = emb.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    centroidsOf(emb, idCol, vecCol, centroidIds)
      .write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    writeIvfSegment(emb, idCol, vecCol, indexDir, seg = 0L)
    graft.io.Segments.commitVersion(spark, indexDir, Seq(0L))
  }

  /** Append a batch as the next segment: only the batch is scanned and
    * assigned, only new `seg=` directories are written. */
  def appendIvfIndex(newVecs: DataFrame, idCol: String,
                     vecCol: String, indexDir: String): Unit = {
    val spark = newVecs.sparkSession
    val ever = graft.io.Segments.allSegmentsEver(spark, indexDir)
    require(ever.nonEmpty,
      s"no committed segments under $indexDir — initIvfIndex first")
    appendIvfIndexAs(newVecs, idCol, vecCol, indexDir, ever.max + 1L)
  }

  /** Append under an EXPLICIT segment id — the exactly-once form: a
    * segment id that was EVER committed makes the call a no-op (a
    * replayed micro-batch indexes nothing twice, even after compaction
    * superseded its segment); a crashed half-written attempt is
    * invisible and the retry overwrites its leftovers. */
  def appendIvfIndexAs(newVecs: DataFrame, idCol: String, vecCol: String,
                       indexDir: String, seg: Long): Unit = {
    val spark = newVecs.sparkSession
    // one coherent snapshot of the version chain: the ever-committed
    // check, the active set, and the CAS base all come from the same
    // read, so a concurrent appender in the window between this read
    // and the commit makes commitVersionAfter fail loudly instead of
    // silently dropping its segment (lost-update detection; the
    // intended deployment stays single-writer-per-index — one
    // streaming query owns an index).
    val versions = graft.io.Segments.listVersions(spark, indexDir)
    val base = versions.maxOption.getOrElse(-1L)
    val ever = versions
      .flatMap(v => graft.io.Segments.readVersion(spark, indexDir, v))
    if (ever.contains(seg)) return
    writeIvfSegment(newVecs, idCol, vecCol, indexDir, seg)
    val active =
      if (base >= 0) graft.io.Segments.readVersion(spark, indexDir, base)
      else Seq.empty[Long]
    graft.io.Segments.commitVersionAfter(spark, indexDir, base,
      active :+ seg)
  }

  /** Fold the committed segments into ONE (the Lucene merge), derived
    * from the index itself — vectors union verbatim, no re-assignment
    * (cell membership is per-vector and centroids are fixed). Old
    * trees stay for in-flight readers until [[vacuumIvfIndex]]. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): Long = {
    val committed = graft.io.Segments.committedSegments(spark, indexDir)
    require(committed.nonEmpty, s"nothing to compact under $indexDir")
    val merged =
      graft.io.Segments.allSegmentsEver(spark, indexDir).max + 1L
    spark.read.parquet(s"$indexDir/vectors.parquet")
      .filter(col("seg").isin(committed: _*))
      .select(col("id"), col("v"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/vectors.parquet/seg=$merged")
    graft.io.Segments.commitVersion(spark, indexDir, Seq(merged))
    merged
  }

  /** Retention: keep the newest `keepVersions` versions, delete every
    * segment tree no retained version references. Returns deleted
    * segment ids.
    *
    * Retention >= replay horizon (the [[graft.ext.Retrieval]]
    * `vacuumTextIndex` contract, restated here because the failure is
    * nastier on this index): after vacuum, [[appendIvfIndexAs]]'
    * replay idempotence keys on the RETAINED version history only — a
    * streaming-checkpoint replay OLDER than the retention window
    * re-appends a compacted-away segment id, duplicating vector ids
    * across segments and breaking [[ivfTopKSegmented]]'s
    * disjoint-union exactness. Pair `keepVersions` with the stream's
    * checkpoint horizon so a replay older than both cannot occur. */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String, keepVersions: Int = 2): Seq[Long] = {
    val retained = graft.io.Segments.retainVersions(spark, indexDir,
      keepVersions)
    graft.io.Segments.deleteDeadSegments(spark, indexDir,
      Seq("vectors.parquet"), retained)
  }

  /** Consistency report for the segmented vector index
    * ([[graft.io.Segments.fsck]] over the vectors table):
    * ok / historical / orphan / missing per segment. */
  def fsckIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): DataFrame =
    graft.io.Segments.fsck(spark, indexDir, Seq("vectors.parquet"))

  /** The cells a query set probes against the segmented index — the
    * KB-sized driver list ([[probeCells]] for the segmented layout). */
  def probeCellsSeg(queries: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, nprobe: Int): Seq[Long] = {
    val cents = ivfSegCentroids(queries.sparkSession, indexDir)
    assignCells(queries, idCol, vecCol, cents, nprobe)
      .select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  /** Search the segmented index: identical scoring/tie discipline to
    * [[ivfTopK]]/[[ivfTopKIndexed]]; the vector scan carries partition
    * filters on BOTH `seg` (committed set — torn segments invisible)
    * and `cell` (probed set — IO ∝ nprobe/C of the index), and
    * segments merge by union because their id sets are disjoint. */
  def ivfTopKSegmented(queries: DataFrame, idCol: String, vecCol: String,
                       indexDir: String, k: Int,
                       nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val spark = queries.sparkSession
    val committed = graft.io.Segments.committedSegments(spark, indexDir)
    require(committed.nonEmpty, s"no committed segments under $indexDir")
    val cents = ivfSegCentroids(spark, indexDir)
    val q = assignCells(queries, idCol, vecCol, cents, nprobe)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("centroid_id").as("cell"))
    val probed = probeCellsSeg(queries, idCol, vecCol, indexDir, nprobe)
    val c = spark.read.parquet(s"$indexDir/vectors.parquet")
      .filter(col("seg").isin(committed: _*) &&
        col("cell").isin(probed: _*))
      .select(col("id").as("cand_id"), col("v").as("cv"), col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosineQ(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact squared L2 distance between quantized vectors via three
    * native dot products (d(a,b)² = a·a − 2a·b + b·b) — integer-exact
    * (quantized 64-dim coordinates keep every term far under 2^53), so
    * distance comparisons are reproducible across engines/partitionings.
    */
  def sqDistQ(a: Column, b: Column): Column =
    dotQ(a, a) - lit(2.0) * dotQ(a, b) + dotQ(b, b)

  /** Exact L2 nearest-neighbor top-k — [[bruteForceTopK]]'s shape with
    * squared-L2 ranking; the metric-consistent ground truth for
    * [[pqTopK]] (PQ approximates L2, and on unnormalized vectors L2 and
    * cosine rankings genuinely differ).
    */
  def bruteForceTopKL2(emb: DataFrame, idCol: String, vecCol: String,
                       queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
    val c = emb.select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        sqDistQ(col("qv"), col("cv")).as("sq_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization ANN (the IVFPQ building block): vectors are
    * split into `m` subspaces; each subspace has a codebook (the
    * subvectors of `codebookIds` corpus rows — fixed ids keep the
    * operator deterministic and oracle-checkable, production would
    * k-means them); every corpus vector is ENCODED as m small codes
    * (nearest codebook entry per subspace, ties to the lowest code id).
    * A query computes one distance-table row per (subspace, code) —
    * m·|codebook| entries, independent of corpus size — and a
    * candidate's approximate distance is the sum of m table lookups
    * (asymmetric distance computation).
    *
    * Scale shape: encoding is a broadcast of m·|codebook| subvectors
    * against one corpus scan with a map-side min_by argmin — the codes
    * table is m short ints per vector, ~100× smaller than the vectors;
    * at 100 TB the full-precision vectors are scanned ONCE at index
    * build and never again, and query scoring touches only the codes.
    * ADC scoring is an equi-join of codes against the broadcast
    * distance table, then a per-(query, cand) sum — all integer-exact.
    */
  /** The literal PQ codebook: for each codebook id, its m Spark-sliced
    * quantized subvectors, collected once at plan build (KB-sized model
    * state — the [[collectCentroids]] convention). Slicing runs through
    * the SAME subspace expressions the in-plan form used, so the
    * collected values are bit-identical by construction. Returns
    * sub -> Seq((code, subvector)) with codes sorted for deterministic
    * literal order.
    */
  private def collectPqCodebook(emb: DataFrame, idCol: String,
                                vecCol: String, codebookIds: Seq[Long],
                                m: Int): Map[Int, Seq[(Long, Seq[Long])]] = {
    val subLen = (size(col("_v")) / lit(m)).cast("int")
    emb.filter(col(idCol).isin(codebookIds: _*))
      .select(col(idCol).as("code"), quantize(col(vecCol)).as("_v"))
      .select(col("code"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          slice(col("_v"), lit(s) * subLen + lit(1), subLen).as("sv"))): _*))
        .as("_s"))
      .select(col("code"), col("_s.sub").as("sub"), col("_s.sv").as("sv"))
      .collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Long](2).toSeq))
      .groupBy(_._1)
      .map { case (sub, rows) =>
        sub -> rows.map(t => t._2 -> t._3).sortBy(_._1).toSeq
      }
  }

  /** The collected codebook as the fused kernels' parameter shape:
    * (sorted code ids, mat(s)(ci) = subvector). Codes are identical
    * across subspaces (each codebook row contributes one subvector per
    * subspace). */
  private def cbookParams(cbook: Map[Int, Seq[(Long, Seq[Long])]],
                          m: Int): (Array[Long], Array[Array[Array[Long]]]) =
    (cbook(0).map(_._1).toArray,
      (0 until m).map(s => cbook(s).map(_._2.toArray).toArray).toArray)

  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             codebookIds: Seq[Long], queryIds: Seq[Long], k: Int,
             m: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1, s"m must be >= 1, got $m")
    // r15 rewrite (guide §1.2 step 1): the r14 form encoded the corpus
    // by exploding it m-ways, nested-loop-joining a broadcast codebook
    // TABLE and re-aggregating with a corpus x m exchange (groupBy
    // cand_id, sub) — a full-corpus shuffle to make a row-local argmin
    // decision, plus two more scans for the codebook and query sides.
    // The codebook is KB-sized model state: collected once at plan
    // build and passed as a PARAMETER to the fused pq_encode/pq_qtable
    // kernels (PqExprs — one plan node; a composed literal tree was
    // measured at 2.4-3 s PER ACTION in constraint propagation), so
    // encoding happens inside the scan projection and the only
    // corpus-sized exchange left is the ADC sum's partial aggregate —
    // which collapses the m rows per pair map-side.
    val cbook = collectPqCodebook(emb, idCol, vecCol, codebookIds, m)
    val (codeIds, codeMat) = cbookParams(cbook, m)
    val codes = emb
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("_v"))
      .select(col("cand_id"),
        posexplode(graft.functions.native_fns
          .pq_encode(col("_v"), codeIds, codeMat)).as(Seq("sub", "code")))
    // per-query distance table: m·|codebook| entries, row-local
    val qtable = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("_v"))
      .select(col("query_id"),
        explode(graft.functions.native_fns
          .pq_qtable(col("_v"), codeIds, codeMat)).as("_q"))
      .select(col("query_id"), col("_q.sub").as("sub"),
        col("_q.code").as("code"), col("_q.qd").as("qd"))
    val scored = codes.join(broadcast(qtable), Seq("sub", "code"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("qd")).as("approx_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF + PQ composite (the production ANN architecture — FAISS-style
    * IVFPQ, non-residual variant): coarse centroids prune the candidate
    * space to the query's `nprobe` nearest cells, and candidates are
    * scored by PQ asymmetric distance over their m-code encodings —
    * full-precision vectors are touched only at index build. At 100 TB
    * the codes table is partitioned BY CELL, so a query reads
    * nprobe/|cells| of an already-~100×-compressed index; everything
    * else (coarse assign, encode) is one corpus scan against broadcast
    * centroids/codebooks. Same determinism discipline as [[ivfTopK]] /
    * [[pqTopK]]: fixed centroid/codebook ids, integer-exact distances,
    * ties to the lowest id.
    */
  def ivfpqTopK(emb: DataFrame, idCol: String, vecCol: String,
                centroidIds: Seq[Long], codebookIds: Seq[Long],
                queryIds: Seq[Long], k: Int, m: Int = 8,
                nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && m >= 1, s"nprobe/m must be >= 1")
    // r15 rewrite: coarse centroids AND the PQ codebook are KB-sized
    // model state, collected once at plan build and inlined as
    // literals ([[collectCentroids]]/[[collectPqCodebook]]). The r14
    // form paid TWO corpus-wide exchanges to make row-local decisions —
    // the assignment window (corpus x C rows re-partitioned by vector
    // id) and the encode re-aggregate (corpus x m rows, groupBy
    // cand_id/sub) — plus five corpus/model scans; probe measured 12
    // sequential single-task stages. Now ONE corpus scan computes
    // (cell, m codes) row-locally inside the scan projection; matched
    // candidates explode their codes, meet the broadcast per-query
    // distance table, and the only exchanges left are the ADC sum's
    // (map-side-partial) aggregate and the top-k window — the actual
    // FAISS IVFPQ dataflow, which is also the 100 TB shape: the
    // full-precision corpus is scanned once and never reshuffled.
    val cents = collectCentroids(emb, idCol, vecCol, centroidIds)
    val cbook = collectPqCodebook(emb, idCol, vecCol, codebookIds, m)
    val (codeIds, codeMat) = cbookParams(cbook, m)
    // cell-pruned candidate pairs: corpus vectors live in ONE cell,
    // queries probe nprobe distinct cells -> no pair duplication
    val qcells = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("nq", sqrt(dotQ(col("qv"), col("qv"))))
      .select(col("query_id"),
        explode(slice(nearestCellsLit(col("qv"), col("nq"), cents),
          1, nprobe).getField("cell")).as("cell"))
    val c = emb
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("_v"))
      .withColumn("__nc", sqrt(dotQ(col("_v"), col("_v"))))
      .withColumn("cell",
        array_min(array(cellStructsLit(col("_v"), col("__nc"), cents): _*))
          .getField("cell"))
      .select(col("cand_id"), col("cell"),
        graft.functions.native_fns
          .pq_encode(col("_v"), codeIds, codeMat).as("__codes"))
    val qtable = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("_v"))
      .select(col("query_id"),
        explode(graft.functions.native_fns
          .pq_qtable(col("_v"), codeIds, codeMat)).as("_q"))
      .select(col("query_id"), col("_q.sub").as("sub"),
        col("_q.code").as("code"), col("_q.qd").as("qd"))
    val scored = c.join(broadcast(qcells), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        posexplode(col("__codes")).as(Seq("sub", "code")))
      .join(broadcast(qtable), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("qd")).as("approx_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, blocked by
    * multi-table sign LSH ([[signBands]]): only pairs colliding in at
    * least one table are scored, deduped before the cosine. The pair
    * space is Σ_tables Σ|bucket|² — bounded by the tables/2^bits
    * blocking, never the raw cross product — and the physical plan is an
    * equi-join on the (table, bucket) key, not a nested-loop join, so at
    * 100 TB the cosine work scales with bucket co-occupancy, not
    * |corpus|². Recall follows the OR-construction 1−(1−p^bits)^tables,
    * ~16× the single-table form at moderate similarity (measured in
    * AnnRecallSpec).
    *
    * Shuffle discipline: bucket entries carry ONLY (id, tbl, bucket) —
    * vectors never ride the pair-generation shuffle. A pair colliding in
    * several tables is deduped on the id pair alone (two longs per row,
    * vs two full quantized vectors duplicated per colliding table), then
    * each side's vector is fetched once by an equi-join against the
    * (id → quantized vector) projection of the corpus. The cosine is
    * computed exactly once per surviving candidate pair.
    *
    * `maxId` bounds the candidate id range (0 disables) so tests and
    * oracles can pin a deterministic subset.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   maxId: Long, threshold: Double, bits: Int = 6,
                   tables: Int = 8): DataFrame = {
    val bounded = if (maxId > 0) emb.filter(col(idCol) < maxId) else emb
    val entries = bounded.select(col(idCol).as("id"),
      explode(signBands(col(vecCol), tables, bits)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = entries.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = entries.select(col("tbl"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = bounded.select(col(idCol).as("vid"), quantize(col(vecCol)).as("v"))
    pairs
      .join(vecs.select(col("vid").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosineQ(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") > threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** k-center greedy coreset (farthest-point traversal, Gonzalez 1985):
    * pick a seed, then k−1 times pick the point FARTHEST from every
    * chosen center (max over points of min squared-L2 distance to the
    * center set, ties to the lower id) — the classic 2-approximation
    * diversity selector behind "give me k maximally-spread exemplars"
    * curation and k-means++-style seeding.
    *
    * Execution shape: the running `mind` column (distance to the
    * NEAREST chosen center) is maintained incrementally — each round
    * scores points against ONLY the newest center via [[sqDistQ]] and
    * folds with `least`, so the total work is k scans of the corpus,
    * not k·|centers|. The argmax is a 1-row bounded collect per round
    * (the codebook convention) and the chosen vector rides the next
    * plan as a LITERAL — no join, no crossJoin, nothing driver-sized
    * beyond k rows. Distances are integer-exact quantized squared L2
    * ([[sqDistQ]]), so argmax ties are engine-portable.
    *
    * Output: (rank 1..k, vec_id, mindist) — `mindist` is the point's
    * distance to the previously-chosen set AT SELECTION TIME (the
    * coreset radius curve; rank 1 = seed at 0.0).
    */
  def kCenterGreedy(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, seedId: Long): DataFrame = {
    import emb.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    val pts = emb.select(col(idCol).as("vec_id"),
        quantize(col(vecCol)).as("v"))
      .localCheckpoint(false)  // scanned once per round
    def vecLit(v: Seq[Long]): Column = typedLit(v)
    val seedRows = pts.filter(col("vec_id") === seedId).limit(1).collect()
    require(seedRows.nonEmpty,
      s"kCenterGreedy: seed id $seedId not found in the corpus")
    val seedVec = seedRows.head.getSeq[Long](1).toSeq
    var chosen = Vector((seedId, 0.0))
    var scored = pts
      .withColumn("mind", sqDistQ(col("v"), vecLit(seedVec)))
      .localCheckpoint(false)
    for (i <- 2 to k) {
      val ids = chosen.map(_._1)
      val rest = scored.filter(!col("vec_id").isin(ids: _*))
        .orderBy(col("mind").desc, col("vec_id"))
        .limit(1).collect()
      require(rest.nonEmpty,
        s"kCenterGreedy: corpus exhausted at center $i of $k — " +
          s"fewer than $k distinct ids")
      val next = rest.head
      chosen :+= ((next.getLong(0), next.getDouble(2)))
      val nv = next.getSeq[Long](1).toSeq
      scored = scored
        .withColumn("mind", least(col("mind"), sqDistQ(col("v"), vecLit(nv))))
        .localCheckpoint(false)
    }
    chosen.zipWithIndex
      .map { case ((id, d), i) => (i + 1, id, d) }
      .toDF("rk", "vec_id", "mindist")
  }

  /** k-NN label-noise audit (Wilson-editing / cleanlab-style neighbor
    * vote): for each labelled vector, its k nearest LSH-candidate
    * neighbors by exact quantized cosine vote with their labels; rows
    * where a MAJORITY of neighbors disagree with the point's own label
    * are the suspected mislabels — the embedding-space data-quality
    * gate a labelled training corpus runs before fit.
    *
    * Neighborhoods come from [[nearDupPairs]]' sign-band candidates
    * (bucketed, never O(n²) — the [[dbscan]]/knn-graph discipline), so
    * the vote is over the RECALLED neighborhood; `n_nb` carries the
    * actual vote count (≤ k) so a sparse neighborhood can't
    * masquerade as a confident verdict. All counts exact longs; the
    * majority test `2·n_disagree > n_nb` never touches a float.
    *
    * Output: (vec_id, own_label, n_nb, n_disagree) for the suspects
    * only, ordered by id.
    */
  def knnLabelDisagreement(emb: DataFrame, idCol: String, vecCol: String,
                           labelCol: String, k: Int, maxId: Long,
                           bits: Int = 6, tables: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = nearDupPairs(emb, idCol, vecCol, maxId, threshold = -1.0,
        bits, tables)
      // referenced by BOTH directions of the symmetric union — without
      // the checkpoint the LSH candidate derivation would run twice
      .localCheckpoint(false)
    val sym = cand
      .select(col("id_a").as("vec_id"), col("id_b").as("nb"), col("cosine"))
      .unionByName(cand
        .select(col("id_b").as("vec_id"), col("id_a").as("nb"),
          col("cosine")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nb"))
    val topk = sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    val bounded = if (maxId > 0) emb.filter(col(idCol) < maxId) else emb
    val own = bounded.select(col(idCol).as("vec_id"),
      col(labelCol).as("own_label"))
    val nbLab = bounded.select(col(idCol).as("nb"),
      col(labelCol).as("nb_label"))
    topk.join(own, Seq("vec_id")).join(nbLab, Seq("nb"))
      .groupBy(col("vec_id"), col("own_label"))
      .agg(count(lit(1)).as("n_nb"),
        sum(when(col("nb_label") =!= col("own_label"), 1L)
          .otherwise(0L)).as("n_disagree"))
      .filter(col("n_disagree") * 2 > col("n_nb"))
      .orderBy(col("vec_id"))
  }

  /** Density clustering (DBSCAN, Ester et al. 1996) over the
    * LSH-blocked cosine neighbor graph: core points have ≥ `minPts`
    * neighbors at cosine ≥ `eps`, clusters are connected components of
    * the core-core subgraph (min-id labels via
    * [[Dedup.connectedComponents]]), border points attach to the
    * smallest-labelled core neighbor, everything else is noise — the
    * curation clusterer that, unlike k-means, needs no k and leaves
    * outliers OUT instead of forcing them into a centroid.
    *
    * Neighborhoods come from [[nearDupPairs]]' sign-band candidates —
    * bucketed, never O(n²); that makes the ε-neighborhood RECALL
    * LSH-bounded (the standard at-scale trade, same as every blocked
    * dedup here; the oracle replays the same blocks, so correctness is
    * checked against the blocked semantics). Every tie-break is a MIN
    * over exact ids — deterministic on any engine.
    *
    * Output: (id, role ∈ core|border|noise, cluster — null for noise).
    */
  def dbscan(emb: DataFrame, idCol: String, vecCol: String, maxId: Long,
             eps: Double, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pairs = nearDupPairs(emb, idCol, vecCol, maxId, threshold = eps)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(false) // degrees + core-core edges + border join
    val sym = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val degrees = sym.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("__deg"))
    val ids = (if (maxId > 0) emb.filter(col(idCol) < maxId) else emb)
      .select(col(idCol).as("id"))
    val cores = degrees.filter(col("__deg") >= minPts)
      .select(col("id")).localCheckpoint(false)
    val coreEdges = pairs
      .join(cores.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(cores.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    // CC labels cover only cores WITH a core neighbor; isolated cores
    // are their own singleton cluster
    val coreLabels = Dedup.connectedComponents(coreEdges)
      .select(col("doc_id").as("id"), col("cluster_id"))
    val coreClusters = cores
      .join(coreLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id"))
        .as("cluster"))
      .localCheckpoint(false)
    val borderClusters = sym
      .join(coreClusters.select(col("id").as("id_b"), col("cluster")),
        Seq("id_b"))
      .join(coreClusters.select(col("id").as("id_a")), Seq("id_a"),
        "left_anti")
      .groupBy(col("id_a").as("id"))
      .agg(min(col("cluster")).as("cluster"))
    ids
      .join(coreClusters.withColumn("role", lit("core")), Seq("id"), "left")
      .join(borderClusters.withColumnRenamed("cluster", "__bc"),
        Seq("id"), "left")
      .select(col("id"),
        when(col("role").isNotNull, col("role"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster"), col("__bc")).as("cluster"))
  }

  /** All-pairs near-dup reference: the exact (unblocked) form of
    * [[nearDupPairs]], O(n²) by construction — small-N ground truth for
    * measuring the blocked variant's recall, never a production path.
    */
  /** Per-label centroid DIRECTION as the exact integer SUM of the
    * label's quantized vectors. Cosine is scale-invariant, so
    * nearest-centroid by the sum vector equals nearest by the mean —
    * and keeping the sum (never dividing) keeps every later dot
    * product an exact integer, which is what makes nearest-centroid
    * assignment bit-reproducible across engines. One posexplode +
    * one (label, dim) group-by; output is |labels| rows.
    */
  def labelCentroids(emb: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(quantize(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        d => d.getField("s")).as("centroid"))

  /** Nearest-centroid assignment + label-vs-assigned confusion counts —
    * the "is this corpus separable by source?" diagnostic (and the
    * classify-new-docs primitive once centroids are frozen). The
    * centroid table is broadcast (|labels| rows); the corpus is scanned
    * once; the argmax is a per-vector window over |labels| scored rows.
    */
  def nearestCentroidConfusion(emb: DataFrame, idCol: String,
                               vecCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = emb.select(col(idCol).as("__id"), col(labelCol).as("label"),
      quantize(col(vecCol)).as("q"))
    val cents = labelCentroids(emb, vecCol, labelCol)
      .select(col("label").as("assigned"), col("centroid"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("cos").desc, col("assigned"))
    docs.join(broadcast(cents))
      .select(col("__id"), col("label"), col("assigned"),
        cosineQ(col("q"), col("centroid")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
  }

  /** Matryoshka/truncated-dimension retrieval quality: for each query
    * and each prefix length `d` in `dims`, the recall@k of exact
    * cosine top-k computed on the FIRST d DIMENSIONS against the
    * top-k at `fullDim` — the standard eval before shipping
    * truncated (matryoshka) embeddings to an ANN index, answering
    * "how many dims can we drop before retrieval degrades".
    *
    * Output: (query_id, d, n_hits, recall), one row per query × d;
    * d = fullDim reports recall 1.0 by construction (the sanity row).
    *
    * Plan shape: the corpus is scanned ONCE — a row-local explode of
    * the literal `dims` array fans each vector into its |dims| prefix
    * quantizations (quantize AFTER slice ≡ slice after quantize,
    * elementwise), then the usual brute-force shape: broadcast of the
    * |queries|·|dims| query rows, equi-join on d, one window keyed by
    * (d, query_id). Recall joins each (d, query) top-k against the
    * fullDim top-k of the same query — |queries|·|dims|·k rows, never
    * the corpus. Integer dots → one IEEE division per pair, so ranks
    * and recalls are engine-exact.
    */
  def truncatedRecall(emb: DataFrame, idCol: String, vecCol: String,
                      queryIds: Seq[Long], k: Int, dims: Seq[Int],
                      fullDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dims.nonEmpty && dims.forall(d => d >= 1 && d <= fullDim),
      s"dims must be within [1, $fullDim]")
    val allDims = (dims :+ fullDim).distinct
    val dimsArr = array(allDims.map(lit): _*)
    def expand(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs), explode(dimsArr).as("d"),
          col(vecCol).as("__v"))
        .select(col(idAs), col("d"),
          quantize(slice(col("__v"), lit(1), col("d"))).as(vecAs))
    val q = expand(emb.filter(col(idCol).isin(queryIds: _*)),
      "query_id", "qv")
    val c = expand(emb, "cand_id", "cv")
    val w = Window.partitionBy(col("d"), col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val topk = c
      .join(broadcast(q), Seq("d"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("d"), col("query_id"), col("cand_id"),
        cosineQ(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // referenced twice below (per-d lists and the fullDim reference
      // list) — materialize once, the sims convention
      .localCheckpoint(false)
    val full = topk.filter(col("d") === fullDim)
      .select(col("query_id"), col("cand_id"))
    val hits = topk
      .join(full, Seq("query_id", "cand_id"))
      .groupBy(col("query_id"), col("d"))
      .agg(count(lit(1)).as("n_hits"))
    q.select(col("query_id"), col("d")).distinct()
      .join(hits, Seq("query_id", "d"), "left")
      .select(col("query_id"), col("d"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(k.toDouble))
  }

  def nearDupPairsExact(emb: DataFrame, idCol: String, vecCol: String,
                        maxId: Long, threshold: Double): DataFrame = {
    val a = emb.filter(col(idCol) < maxId)
      .select(col(idCol).as("id_a"), quantize(col(vecCol)).as("va"))
    val b = emb.filter(col(idCol) < maxId)
      .select(col(idCol).as("id_b"), quantize(col(vecCol)).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosineQ(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") > threshold)
      .orderBy(col("id_a"), col("id_b"))
  }
}
