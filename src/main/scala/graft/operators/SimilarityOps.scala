package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.DeterministicRng

/** Similarity-search operators as DataFrame→DataFrame functions — the
  * public library surface ([[SimilarityQueries]] binds them to the test
  * tables for the gate). Input contracts: a corpus DataFrame with
  * `vec_id BIGINT, embedding ARRAY<FLOAT>` (dim [[SimilarityOps.DIM]]) and,
  * for the top-k ops, a queries DataFrame with
  * `query_id BIGINT, qe ARRAY<FLOAT>`.
  *
  * Three ANN shapes:
  *   - [[bruteTopK]]: the exact baseline. O(Q·N) — fine for a handful of
  *     query vectors even at 100 TB because it is a single broadcast-join
  *     scan (queries broadcast, one pass over the corpus);
  *   - [[lshTopK]]: random-hyperplane signature buckets (±1-bit
  *     multiprobe) — each query touches ~2^-bits of the corpus per probe;
  *   - [[ivfTopK]] (+ [[trainCentroids]]): inverted lists under a coarse
  *     quantizer; each query re-ranks only its nprobe nearest lists.
  */
object SimilarityOps {

  val DIM = 64

  /** A trained PQ model: one `(sub, cid, codeword)` per codeword —
    * m·ks rows of driver state (the [[pqModel]] / [[pqCodes]] /
    * [[pqTopK]] / [[ivfPqTopK]] train-once/serve-many seam).
    */
  type PqModel = Seq[(Int, Long, Array[Double])]

  /** Exact cosine between two float-array columns, rounded to 6 decimals.
    * Delegates to the native codegen'd [[graft.functions.DotProduct]]
    * expression — same left-to-right double accumulation as the
    * `aggregate(zip_with(...))` fold it replaced (oracle-identical), ~40×
    * cheaper per pair because it stays inside whole-stage codegen.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  /** Random-hyperplane signature: bit j = sign(v · r_j) with hyperplane
    * components r_j[i] = u(seed, j, 0, i) − 0.5 from the counter-based RNG.
    * The hyperplanes are materialized driver-side as array literals (they
    * are model constants — bits×64 doubles), so each bit is one native
    * dot-product against a literal, not an interpreted per-element lambda.
    *
    * Single-table/spec form. The multi-table operators use the packed
    * [[graft.functions.LshSignatures]] expression instead — semantically
    * bit-identical (pinned in AnnClusteredSpec) but ONE tree node with the
    * plane matrix as a reference object: tables×bits literal arrays in the
    * tree cost seconds of per-query planning (measured; BENCHNOTES r6).
    */
  def lshSignature(v: Column, seed: Long, bits: Int = 8): Column =
    (0 until bits).map { j =>
      val plane = Array.tabulate(DIM)(i =>
        DeterministicRng.uniform(seed, j.toLong, 0L, i.toLong) - 0.5)
      val proj = graft.functions.VectorFunctions.dot_product(v, typedLit(plane))
      when(proj > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** One distributed Lloyd iteration: mean vector per cluster via
    * per-dimension explode + aggregate, re-collected into arrays in
    * dimension order. This is the shape k-means training takes on a
    * DataFrame engine — no driver-side math over the corpus.
    */
  private def lloydStep(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
      // decimal-exact mean, not avg(): double partial-aggregate buffers
      // merge in shuffle-fetch order, so avg() can differ in the last ulp
      // across runs — enough to flip an assignment on a rounding boundary.
      // Decimal sums are exact regardless of order; one deterministic
      // division at the end (the repo-wide FP discipline).
      .groupBy("cid", "dim")
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double") / count(lit(1))).as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("ce"))

  /** Assign every corpus vector to its nearest centroid (broadcast
    * centroids, per-vector argmax via a rank window).
    */
  def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    e.join(broadcast(cents))
      .withColumn("csim", cosine(col("embedding"), col("ce")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** CLUSTER-BALANCED DIVERSE SAMPLING — the data-selection step after
    * clustering in web-scale curation pipelines (the SemDeDup/DCLM
    * cluster-then-pick shape): assign every vector to its nearest
    * centroid, then keep the top-`k` per cluster by centroid cosine —
    * `mostCentral = true` picks each cluster's k PROTOTYPES (the
    * cleanest representatives, the keep side of a semantic dedup),
    * `false` picks the k FRINGE vectors (farthest-first — the
    * hard/novel examples an active-learning loop asks for). Capping per
    * cluster instead of globally is what makes the sample DIVERSE: no
    * cluster can flood the budget, so coverage follows the cluster
    * structure, not the density skew ([[graft.operators.TextOps]]'
    * capPerGroup argument, lifted to embedding space). Emits the
    * shared-contract `(cid, rank, vec_id, csim)`.
    *
    * Pass ANY `(cid, ce)` centroid table: [[trainCentroids]] output at
    * build time, or [[readIvfIndex]]'s persisted centroids to sample
    * consistently with the serving index. Membership and order are
    * engine-stable: csim is the round-6 cosine, ties break on vec_id.
    *
    * Scale shape: centroids broadcast (k_c×dim model state); assignment
    * is the [[assignToCentroids]] per-vector argmax (no shuffle of the
    * corpus beyond the rank exchange); the pick window is PARTITIONED by
    * cid — per-cluster sorts run in parallel and the output is ≤ k_c·k
    * rows. Embeddings never self-join.
    */
  def diverseSample(e: DataFrame, cents: DataFrame, k: Int,
      mostCentral: Boolean = true): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.diverseSample corpus",
      "vec_id", "embedding")
    OpContract.requireCols(cents, "SimilarityOps.diverseSample centroids",
      "cid", "ce")
    require(k >= 1, s"diverseSample: k >= 1, got $k")
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val assigned = e.join(broadcast(cents))
      .withColumn("csim", cosine(col("embedding"), col("ce")))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid"), col("csim"))
    val wPick = Window.partitionBy("cid").orderBy(
      (if (mostCentral) col("csim").desc else col("csim").asc), col("vec_id"))
    assigned.withColumn("rank", row_number().over(wPick))
      .filter(col("rank") <= k)
      .select(col("cid"), col("rank"), col("vec_id"), col("csim"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * assign every vector to its nearest centroid, then find near-duplicate
    * pairs ONLY within each cluster. The pairwise work drops from O(n²) to
    * O(Σ|cluster|²) — the deliberate SemDeDup trade: cross-cluster pairs
    * are unseen by construction (two near-dups split by a centroid
    * boundary are missed), bought for a pair stage that parallelizes by
    * cluster and never compares across the corpus. Returns
    * (cid, vec_a, vec_b, cos); the keep-one-representative drop policy
    * composes downstream with [[graft.operators.DedupOps.nearDupClusters]]
    * over these pairs.
    *
    * Scale shape: centroids broadcast, one corpus scan to assign, the
    * pair join shuffles by cid (cluster sizes ≈ n/k; a mega-cluster is
    * the k-too-small symptom, fixed by more centroids — the knob SemDeDup
    * itself tunes).
    */
  def semanticDedup(e: DataFrame, cents: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignToCentroids(e, cents)
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = assigned.select(col("cid").as("cid2"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    a.join(b, col("cid") === col("cid2") && col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select(col("cid"), col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Distributed Lloyd training over `iters` iterations from the given
    * initial centroids `(cid BIGINT, ce ARRAY<DOUBLE|FLOAT>)`. The centroid
    * table is materialized DRIVER-SIDE between iterations: k×dim doubles —
    * legitimate tiny model state, the same pattern as [[lshSignature]]'s
    * literal hyperplanes. Without it every Lloyd iteration (and the final
    * assignment) recomputes the full upstream lineage — at 100 TB that is
    * one corpus re-scan per iteration; with it each iteration is exactly
    * one scan. Values are unchanged: lloydStep's decimal-exact means are
    * deterministic, and re-injection as a local relation feeds the same
    * doubles back in.
    *
    * Standard Lloyd empty-cluster behavior: a centroid that wins no
    * vectors in an iteration produces no mean and is DROPPED, so the
    * returned table can hold fewer rows than `initial` (easy to trigger
    * with duplicate or outlier seeds on real data). Callers needing
    * exactly k lists should check the count and re-seed.
    */
  def trainCentroids(e0: DataFrame, initial: DataFrame, iters: Int): DataFrame = {
    OpContract.requireCols(e0, "SimilarityOps.trainCentroids corpus", "vec_id", "embedding")
    OpContract.requireCols(initial, "SimilarityOps.trainCentroids initial", "cid", "ce")
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.repartition(spark.sparkContext.defaultParallelism)
    var cents = initial
    (0 until iters).foreach { _ =>
      val local = lloydStep(assignToCentroids(e, cents)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      cents = local.toSeq.toDF("cid", "ce")
    }
    cents
  }

  /** Max-abs int8 quantization of the embedding column — the standard
    * compression step before ANN at scale (4× smaller than float32, dot
    * products stay proportional): per-vector scale = max |x_i|, each
    * component rounded to round(127·x/scale) ∈ [-127, 127]. Quantized
    * components are emitted as a CSV string (exact integer→string, so the
    * result is value-oracle-comparable cross-engine); `scale` is the
    * exact float max widened to double. Zero vectors quantize to zeros.
    *
    * FP discipline: 127·x and the division are two correctly-rounded
    * double ops over exact inputs (float→double is exact), and both
    * engines round .5 ties away from zero — bit-reproducible. The
    * per-element lambda is interpreted (the HOF cost note on
    * [[graft.functions.DotProduct]]); quantization is a one-pass
    * write-side transform, not a query hot path, so clarity wins here.
    */
  def quantizeInt8(e: DataFrame): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.quantizeInt8", "vec_id", "embedding")
    val scaleF = array_max(transform(col("embedding"), x => abs(x)))
    e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .withColumn("scale_f", scaleF)
      .select(col("vec_id"), col("scale_f").cast("double").as("scale"),
        concat_ws(",", transform(col("embedding"), x =>
          when(col("scale_f") === 0f, lit(0))
            .otherwise(round(x.cast("double") * lit(127.0) /
              col("scale_f").cast("double"), 0).cast("int"))
            .cast("string"))).as("q_csv"))
  }

  /** PQ model = (subspace, cid, codeword) triples, driver-side (m·ks·subDim
    * doubles — the [[trainCentroids]] model-state legitimacy argument).
    * Training touches the corpus ONCE per Lloyd iteration regardless of m:
    * one projection explodes every vector into its m subvectors tagged by
    * subspace id, the assignment is a literal-codebook argmax EXPRESSION
    * (no join, no window — codebooks are tiny driver constants, like
    * [[lshSignature]]'s hyperplanes), and all m·ks means come back from a
    * single decimal-exact aggregate. Values are identical to the
    * per-subspace [[trainCentroids]] formulation the DuckDB oracle unrolls:
    * same round-6 cosine argmax with smallest-cid tie-break, same decimal
    * Lloyd means; empty codewords drop exactly as there.
    */
  /** Train the PQ codebooks and return them as driver state — the
    * explicit-model seam (r14): the PQ family gates each re-ran the
    * IDENTICAL deterministic training chain (seed TakeOrdered + two
    * Lloyd-iteration scans ≈ 5 jobs) before their measured op; training
    * once and feeding the model to the [[pqCodes]]/[[pqTopK]]/
    * [[ivfPqTopK]] model overloads is the same train-once/serve-many
    * contract [[trainCentroids]] + [[ivfPqTopK]]'s `cents` parameter
    * already expose for the coarse quantizer. Training is deterministic
    * (seeded init, decimal-exact means, smallest-cid tie-break), so the
    * shared model is bit-identical to what each gate trained alone.
    */
  def pqModel(e0: DataFrame, m: Int = 4, subDim: Int = 16, ks: Int = 4,
      iters: Int = 2): PqModel = pqTrain(e0, m, subDim, ks, iters)

  private def pqTrain(e0: DataFrame, m: Int, subDim: Int, ks: Int,
      iters: Int): Seq[(Int, Long, Array[Double])] = {
    OpContract.requireCols(e0, "SimilarityOps.pqTrain", "vec_id", "embedding")
    val rows = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))
    // Seeds: the ks corpus ids that sort FIRST by the cross-engine 60-bit
    // md5 hash of the id (vec_id tie-break) — one TakeOrdered scan of the
    // id column, deterministic, and free of any id-space assumption
    // (offset, sparse, or hashed vec_ids all seed identically; the former
    // `vec_id < ks` seed required dense ids from 0). Oracle-expressible:
    // ORDER BY mdint(CAST(vec_id AS VARCHAR)), vec_id LIMIT ks.
    val seedIds = e0
      .select(col("vec_id"))
      .orderBy(graft.functions.CrossHash.mdint(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(ks)
      .collect().map(_.getLong(0)).toSeq
    require(seedIds.nonEmpty, "pqTrain: empty corpus — nothing to seed from")
    var model: Seq[(Int, Long, Array[Double])] = rows
      .filter(col("vec_id").isin(seedIds: _*))
      .collect()
      .map(r => (r.getInt(1), r.getLong(0),
        // corpus may carry float OR double embeddings (float→double exact)
        r.getSeq[Any](2).map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => sys.error(s"pqTrain: non-numeric embedding element $other")
        }.toArray))
      .toSeq.sortBy(t => (t._1, t._2))
    (0 until iters).foreach { _ =>
      val assigned = pqAssignRows(rows, model, m)
      model = assigned
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
        // decimal-exact means — the lloydStep discipline, keyed by (sub, cid)
        .groupBy("sub", "cid", "dim")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("mean"))
        .groupBy("sub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
          st => st.getField("mean")).as("ce"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    model
  }

  /** Left-to-right codeword self-dot — the same accumulation order as the
    * native DotProduct loop and DuckDB's list_dot_product, evaluated
    * driver-side (codewords are model constants).
    */
  private def pqN2(cw: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < cw.length) { acc += cw(i) * cw(i); i += 1 }
    acc
  }

  /** Round-6 cosines of one subvector against every codeword of one
    * subspace, as an array column. `svn` must be sqrt(dot(sv, sv))
    * computed ONCE in an upstream projection; the codeword norms are
    * driver literals (identical doubles — same loop order + IEEE sqrt).
    * Value-identical to [[cosine]] per entry, but the generated code
    * holds ks dot loops instead of 3·ks (the naive form recomputed
    * dot(sv,sv) per codeword and re-inlined everything wherever the
    * array was referenced — past Janino's 64 KB method limit on the
    * double-element path).
    */
  private def pqScoreArr(sv: Column, svn: Column,
      cws: Seq[(Long, Array[Double])]): Column = {
    import graft.functions.VectorFunctions.dot_product
    array(cws.map { case (_, cw) =>
      round(dot_product(sv, typedLit(cw)) / (svn * lit(math.sqrt(pqN2(cw)))), 6)
    }: _*)
  }

  /** First-maximal codeword id from a score array:
    * `array_position(arr, array_max(arr))` — with codewords in
    * ascending-cid order exactly the `ORDER BY cos DESC, cid` argmax of
    * [[assignToCentroids]]. The score array lives in its own projection,
    * so its double reference here costs one column read, not a re-inline.
    */
  private def pqPickCid(cosArr: Column, cids: Seq[Long]): Column =
    element_at(typedLit(cids.toArray),
      array_position(cosArr, array_max(cosArr)).cast("int"))

  private def pqSorted(model: Seq[(Int, Long, Array[Double])],
      s: Int): Seq[(Long, Array[Double])] =
    model.filter(_._1 == s).sortBy(_._2).map(t => (t._2, t._3))

  /** Assign a cid to every exploded training row (sub, sv): layered
    * projections — norm, then per-sub score array (linear `when`
    * dispatch), then the argmax pick — each expensive expression
    * codegen'd exactly once.
    */
  private def pqAssignRows(rows: DataFrame,
      model: Seq[(Int, Long, Array[Double])], m: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val withN = rows.withColumn("svn", sqrt(dot_product(col("sv"), col("sv"))))
    val withArr = withN.withColumn("cosArr",
      (1 until m).foldLeft(
        when(col("sub") === 0, pqScoreArr(col("sv"), col("svn"), pqSorted(model, 0)))) {
        (acc, s) => acc.when(col("sub") === s, pqScoreArr(col("sv"), col("svn"), pqSorted(model, s)))
      })
    val cidArr = (1 until m).foldLeft(
      when(col("sub") === 0, typedLit(pqSorted(model, 0).map(_._1).toArray))) {
      (acc, s) => acc.when(col("sub") === s, typedLit(pqSorted(model, s).map(_._1).toArray))
    }
    withArr.withColumn("cid",
      element_at(cidArr, array_position(col("cosArr"), array_max(col("cosArr"))).cast("int")))
  }

  /** Shuffle-free PQ encode of a corpus against a trained model: slice →
    * norm → score-array → argmax, one projection layer each.
    */
  private def pqEncode(e0: DataFrame, model: Seq[(Int, Long, Array[Double])],
      m: Int, subDim: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val withSv = e0.select(col("vec_id") +:
      (0 until m).map(s => slice(col("embedding"), s * subDim + 1, subDim).as(s"sv$s")): _*)
    val withN = (0 until m).foldLeft(withSv)((df, s) =>
      df.withColumn(s"svn$s", sqrt(dot_product(col(s"sv$s"), col(s"sv$s")))))
    val withArr = (0 until m).foldLeft(withN)((df, s) =>
      df.withColumn(s"cosArr$s", pqScoreArr(col(s"sv$s"), col(s"svn$s"), pqSorted(model, s))))
    val withC = (0 until m).foldLeft(withArr)((df, s) =>
      df.withColumn(s"c$s", pqPickCid(col(s"cosArr$s"), pqSorted(model, s).map(_._1))))
    withC.select(col("vec_id") +: (0 until m).map(s => col(s"c$s")): _*)
  }

  /** The trained PQ codebooks as a (sub, cid, ce) DataFrame — the
    * user-facing model surface (persist it, feed it to downstream jobs).
    */
  def pqCodebooks(e0: DataFrame, m: Int = 4, subDim: Int = 16, ks: Int = 4,
      iters: Int = 2): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    pqTrain(e0, m, subDim, ks, iters)
      .map(t => (t._1, t._2, t._3.toSeq)).toDF("sub", "cid", "ce")
  }

  /** Product-quantization ENCODE (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011, under the
    * spherical/cosine convention): every vector becomes `m` codeword ids —
    * m·log2(ks) bits replacing m·subDim floats (with the gate's 4×4
    * configuration, one byte per vector versus 256 — the compression that
    * makes billion-vector ANN fit in memory at 100 TB corpus scale).
    * Output: (vec_id, c0..c{m-1}).
    *
    * Scale shape: after [[pqTrain]] (one corpus scan per Lloyd iteration),
    * the encode itself is a SINGLE shuffle-free projection — m argmax
    * expressions over literal codebooks, m·ks codegen'd dot products per
    * row; scan → project → write, nothing else.
    */
  def pqCodes(e0: DataFrame, m: Int = 4, subDim: Int = 16, ks: Int = 4,
      iters: Int = 2): DataFrame =
    pqCodes(e0, pqTrain(e0, m, subDim, ks, iters), m, subDim)

  /** [[pqCodes]] under a caller-trained [[PqModel]] — the encode is the
    * same single shuffle-free projection; only the training moved to the
    * caller ([[pqModel]]).
    */
  def pqCodes(e0: DataFrame, model: PqModel, m: Int, subDim: Int): DataFrame =
    pqEncode(e0, model, m, subDim)

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries stay exact,
    * corpus vectors are represented by their codewords. Per query the
    * m·ks partial dot products (query subvector × codeword) are computed
    * once into a broadcast row; every corpus vector's approximate cosine
    * is then m literal-LUT picks on its codes and one division — the
    * codes scan never touches the original floats. This is the IVFADC
    * building block: compose with [[ivfTopK]]'s coarse lists to prune the
    * scan, or run flat as here.
    *
    * FP discipline: the numerator and the norm are LEFT-ASSOCIATIVE sums
    * of the m per-subspace terms — a fixed association both engines
    * evaluate identically (never a groupBy sum over doubles, whose merge
    * order is nondeterministic); codeword norms are driver doubles
    * accumulated in index order, the same left-to-right loop as the
    * native DotProduct and DuckDB's list_dot_product; one division and
    * one round(·,6) at the end.
    *
    * Scale shape: one broadcast nested-loop join of the codes scan against
    * |queries| precomputed LUT rows — the scan shuffles nothing; per-query
    * rank is the same partitioned window as every other ANN op here.
    */
  /** Per-query ADC lookup rows: partial dots for every (sub, cid) plus
    * the query norm — |queries| × (m·ks + 1) doubles, broadcast-sized.
    */
  private def pqLutQueries(queries: DataFrame,
      model: Seq[(Int, Long, Array[Double])], m: Int, subDim: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val qCols = (0 until m).flatMap { s =>
      pqSorted(model, s).map { case (cid, cw) =>
        dot_product(slice(col("qe"), s * subDim + 1, subDim), typedLit(cw))
          .as(s"p${s}_$cid")
      }
    } :+ sqrt(dot_product(col("qe"), col("qe"))).as("qnorm")
    queries.select(col("query_id") +: qCols: _*)
  }

  /** The ADC approximate cosine for a frame carrying codes c0..c{m-1} and
    * the [[pqLutQueries]] columns: m LUT picks, LEFT-ASSOCIATIVE sums,
    * one division + round(·,6).
    */
  private def pqAdcCos(model: Seq[(Int, Long, Array[Double])], m: Int): Column = {
    def pick(s: Int, value: Long => Column): Column = {
      val cids = pqSorted(model, s).map(_._1)
      cids.tail.foldLeft(when(col(s"c$s") === cids.head, value(cids.head))) {
        (acc, cid) => acc.when(col(s"c$s") === cid, value(cid))
      }
    }
    val n2Map = model.map(t => (t._1, t._2) -> pqN2(t._3)).toMap
    val num = (0 until m).map(s => pick(s, cid => col(s"p${s}_$cid"))).reduce(_ + _)
    val norm2 = (0 until m).map(s => pick(s, cid => lit(n2Map((s, cid))))).reduce(_ + _)
    round(num / (col("qnorm") * sqrt(norm2)), 6)
  }

  def pqTopK(e0: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
      subDim: Int = 16, ks: Int = 4, iters: Int = 2,
      excludeQueryId: Boolean = true): DataFrame =
    pqTopK(e0, queries, k, pqTrain(e0, m, subDim, ks, iters), m, subDim,
      excludeQueryId)

  /** [[pqTopK]] under a caller-trained [[PqModel]] (see [[pqModel]]). */
  def pqTopK(e0: DataFrame, queries: DataFrame, k: Int, model: PqModel,
      m: Int, subDim: Int, excludeQueryId: Boolean): DataFrame = {
    OpContract.requireCols(queries, "SimilarityOps.pqTopK queries", "query_id", "qe")
    val codes = pqEncode(e0, model, m, subDim)
    val q = pqLutQueries(queries, model, m, subDim)
    val self = if (excludeQueryId) col("vec_id") =!= col("query_id") else lit(true)
    rankTopK(
      codes.crossJoin(broadcast(q)).filter(self)
        .withColumn("cos", pqAdcCos(model, m)), k)
  }

  /** IVFADC (Jégou et al. 2011 §IV — the composition the paper is named
    * for): the coarse IVF quantizer prunes the corpus to each query's
    * nprobe inverted lists, and ADC scores ONLY those survivors from
    * their PQ codes. This is the billion-scale serving shape: per-query
    * compute ∝ probed-list size (not corpus size), per-vector memory
    * m·log2(ks) bits (not subDim·m floats), and the original vectors are
    * touched only during training/encode. Both stages reuse exactly the
    * machinery their standalone gate queries pin ([[ivfTopK]] probing,
    * [[pqTopK]] scoring), so the composed result is oracle-checkable
    * end-to-end.
    */
  def ivfPqTopK(e0: DataFrame, queries: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int, m: Int = 4, subDim: Int = 16, ks: Int = 4,
      iters: Int = 2, excludeQueryId: Boolean = true): DataFrame =
    ivfPqTopK(e0, queries, cents, nprobe, k,
      pqTrain(e0, m, subDim, ks, iters), m, subDim, excludeQueryId)

  /** [[ivfPqTopK]] under a caller-trained [[PqModel]] (see [[pqModel]]) —
    * the fine-quantizer counterpart of the `cents` parameter, completing
    * the train-once/serve-many seam for both IVFADC stages.
    */
  def ivfPqTopK(e0: DataFrame, queries: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int, model: PqModel, m: Int, subDim: Int,
      excludeQueryId: Boolean): DataFrame = {
    OpContract.requireCols(e0, "SimilarityOps.ivfPqTopK corpus", "vec_id", "embedding")
    OpContract.requireCols(queries, "SimilarityOps.ivfPqTopK queries", "query_id", "qe")
    OpContract.requireCols(cents, "SimilarityOps.ivfPqTopK centroids", "cid", "ce")
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
    val assigned = assignToCentroids(e, cents).select(col("vec_id"), col("cid"))
    val codes = pqEncode(e0, model, m, subDim)
    val qw = Window.partitionBy(col("query_id")).orderBy(col("qcsim").desc, col("cid"))
    val probes = queries
      .join(broadcast(cents))
      .withColumn("qcsim", cosine(col("qe"), col("ce")))
      .withColumn("qrn", row_number().over(qw))
      .filter(col("qrn") <= nprobe)
      .select(col("query_id"), col("cid"))
    val cand = probes.join(assigned, "cid")
      .filter(if (excludeQueryId) col("vec_id") =!= col("query_id") else lit(true))
      .select("query_id", "vec_id")
    val q = pqLutQueries(queries, model, m, subDim)
    rankTopK(
      cand.join(codes, "vec_id").join(broadcast(q), "query_id")
        .withColumn("cos", pqAdcCos(model, m)), k)
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ranked
    * retrieval lists — the standard hybrid-search combiner for a lexical
    * ranking (BM25) and an embedding ranking (cosine top-k) feeding a
    * training-data selection or RAG stack. Inputs are `(id, rank)`
    * tables (1-based ranks); output one row per id in EITHER list with
    * rrf = Σ 1/(c + rank) over the lists containing it (the standard
    * union semantics — absent lists contribute 0, reported as rank 0).
    *
    * FP discipline: each 1/(c+rank) term is one correctly-rounded IEEE
    * division, rounded to 7 decimals and fixed as DECIMAL before the
    * cross-list sum — bit-identical across engines and partitionings.
    * Scale shape: ranked lists are top-k-bounded by construction
    * upstream, so this is a full-outer hash join of two bounded tables;
    * nothing here touches the corpus.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(c >= 1, s"rrfFuse needs c >= 1, got $c")
    OpContract.requireCols(a, "SimilarityOps.rrfFuse a", "id", "rank")
    OpContract.requireCols(b, "SimilarityOps.rrfFuse b", "id", "rank")
    def side(df: DataFrame, rn: String, sn: String) =
      df.select(col("id"), col("rank").cast("long").as(rn),
        round(lit(1.0) / (lit(c) + col("rank")), 7)
          .cast(DecimalType(10, 7)).as(sn))
    val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(10, 7))
    side(a, "rank_a", "s_a").join(side(b, "rank_b", "s_b"), Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("rank_a"), lit(0L)).as("rank_a"),
        coalesce(col("rank_b"), lit(0L)).as("rank_b"),
        (coalesce(col("s_a"), zero) + coalesce(col("s_b"), zero))
          .cast("double").as("rrf"))
  }

  /** Retrieval evaluation: recall@k of an ANN result table against an
    * exact truth table — both in the (query_id, rank, vec_id, …) shape
    * every top-k op here emits. Per query: hits = |truth∩results| over
    * the top k of each side; recall = hits / |truth@k| (one division of
    * exact integers — deterministic). Queries the ANN side missed
    * entirely still appear with recall 0. This is the measurement loop a
    * production ANN deployment runs continuously on sampled queries;
    * everything reduces map-side after one (query, vec) semi join.
    */
  def annRecall(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    OpContract.requireCols(results, "SimilarityOps.annRecall results", "query_id", "rank", "vec_id")
    OpContract.requireCols(truth, "SimilarityOps.annRecall truth", "query_id", "rank", "vec_id")
    val r = results.filter(col("rank") <= k).select(col("query_id"), col("vec_id"))
    val t = truth.filter(col("rank") <= k).select(col("query_id"), col("vec_id"))
    val hits = t.join(r, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val totals = t.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
    totals.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_truth"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_truth")).as("recall"))
  }

  /** Per-label centroid vectors (the class-prototype aggregate behind
    * nearest-centroid classification and dataset drift checks): one
    * per-dimension explode + aggregate, decimal-exact means (the
    * [[trainCentroids]] FP discipline — order-independent sums, one
    * division), emitted as (label, dim, m, n_vecs) rows. Map-side combine
    * carries (label, dim) partials, so the shuffle is #labels × DIM rows
    * regardless of corpus size.
    */
  def labelCentroids(e: DataFrame): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.labelCentroids", "label", "embedding")
    e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(
        (sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("m"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("m"), col("n_vecs"))
  }

  /** Pairwise cosine similarity between the per-label centroids — the
    * cluster-separation audit run before trusting label-blocked ops
    * (SemDeDup blocking, IVF routing, per-label sampling): centroids with
    * high mutual cosine mean the labels do not separate in embedding
    * space and blocking by them will leak near-dups across blocks.
    *
    * Scale shape: [[labelCentroids]] reduces the corpus to labels×dim
    * model-state rows (map-side combined); everything after — the
    * dim-aligned self-join, norms, L² pair rows — is bounded by the label
    * count, broadcast-sized by construction. Cross-engine FP: centroid
    * means are rounded(6) into DECIMAL so dot/norm sums over the 64 dims
    * are exact in any order; cosine is then sqrt·mul·div single-rounded
    * doubles with the association mirrored in the oracle, one final
    * round(6).
    */
  def centroidSimilarity(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // localCheckpoint the labels×dim model state: the self-join + two norm
    // branches would otherwise each re-run the corpus-wide centroid
    // aggregate (4 corpus scans; PLANS.md shows the before/after)
    val cd = labelCentroids(e).select(col("label"), col("dim"),
      round(col("m"), 6).cast(DecimalType(12, 6)).as("cd"))
      .localCheckpoint()
    val nrm = cd.groupBy("label").agg(sum(col("cd") * col("cd")).as("q"))
    cd.as("a").join(cd.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.cd") * col("b.cd")).as("dot"))
      .join(nrm.select(col("label").as("label_a"), col("q").as("qa")), "label_a")
      .join(nrm.select(col("label").as("label_b"), col("q").as("qb")), "label_b")
      .select(col("label_a"), col("label_b"),
        round(col("dot").cast("double") /
          (sqrt(col("qa").cast("double")) * sqrt(col("qb").cast("double"))), 6)
          .as("cos"))
      .orderBy("label_a", "label_b")
  }

  /** OUT-OF-DISTRIBUTION screen per label block — "which vectors don't
    * belong to the cluster they're labeled with": each vector's round-6
    * cosine against its OWN label's centroid ([[labelCentroids]], the
    * same decimal-pinned centroid [[centroidSimilarity]] audits), and a
    * vector is OOD when that cosine falls below `threshold`. Per label:
    * `(label, n, n_ood, ood_rate, min_csim, mean_csim)` — the companion
    * audit to [[centroidSimilarity]]: that one asks "do the blocks
    * separate", this one asks "does each block actually contain its own
    * members" (label noise, ingestion mix-ups, embedding drift after a
    * model swap all surface here before any blocked op silently
    * degrades).
    *
    * FP discipline: centroid dims are round(·,6) DECIMAL(12,6) (exact
    * in any order); each vector's csim is the native left-to-right
    * dot-product chain round(·,6) — the cosine-oracle contract — so the
    * threshold compare is engine-stable; `min_csim` is an exact min;
    * `mean_csim` sums the round-6 values as DECIMAL(12,6) (exact) and
    * divides ONCE; `ood_rate` is one division of exact counts.
    *
    * Scale shape: the corpus reduces to labels×dim centroid model state
    * in one map-side-combined pass; centroid arrays broadcast back and
    * scoring is a pure projection — the only shuffle after the centroid
    * agg is the ≤|labels|-row report agg. Embeddings never self-join.
    */
  def oodReport(e: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    OpContract.requireCols(e, "SimilarityOps.oodReport",
      "vec_id", "label", "embedding")
    val ce = labelCentroids(e).select(col("label"), col("dim"),
        round(col("m"), 6).cast(DecimalType(12, 6)).as("cd"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cd")))),
        s => s.getField("cd").cast("double")).as("ce"))
    e.join(broadcast(ce), "label")
      .withColumn("csim", cosine(col("embedding"), col("ce")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("csim") < threshold, 1L).otherwise(0L)).as("n_ood"),
        min(col("csim")).as("min_csim"),
        sum(col("csim").cast(DecimalType(12, 6))).as("ssum"))
      .select(col("label").cast("long").as("label"), col("n"), col("n_ood"),
        (col("n_ood").cast("double") / col("n").cast("double")).as("ood_rate"),
        col("min_csim"),
        (col("ssum").cast("double") / col("n").cast("double")).as("mean_csim"))
      .orderBy("label")
  }

  /** MEAN-CENTER + L2-NORMALIZE the embedding column — the standard
    * preprocessing in front of cosine ANN / clustering / SemDeDup
    * (centering removes the corpus-wide offset that compresses cosine
    * spread; unit norm makes dot product = cosine so downstream scoring
    * can skip the per-pair norms). Emits the input rows with `embedding`
    * replaced by the normalized double array and the pre-normalization
    * `norm` alongside (outlier-magnitude diagnostics ride along free).
    *
    * FP discipline: per-dim means use the [[labelCentroids]] decimal
    * pattern (round-12 → DECIMAL(28,12) sums, one cast + one division),
    * centering is exact double subtraction, the norm is the same
    * left-to-right native dot product the cosine oracles pin, and each
    * output element is ONE division + round(·,6). All-zero centered
    * vectors pass through as zeros rather than dividing by zero.
    *
    * Scale shape: two corpus passes — a (dim, x) explode into a 64-group
    * map-side-combined aggregate (means are dim-bounded MODEL STATE,
    * collected driver-side exactly like [[trainCentroids]]' k-row
    * collect), then a pure normalization projection, no shuffle. The
    * means ride into the projection as one small literal array.
    */
  def normalizeEmbeddings(e: DataFrame): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.normalizeEmbeddings", "vec_id", "embedding")
    val means = dimMeans(e)
    e.withColumn("cent", zip_with(col("embedding"), typedLit(means),
        (x, m) => x.cast("double") - m))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dot_product(col("cent"), col("cent"))))
      .withColumn("embedding", when(col("nrm") === 0.0, col("cent"))
        .otherwise(transform(col("cent"), x => round(x / col("nrm"), 6))))
      .withColumn("norm", round(col("nrm"), 6))
      .drop("cent", "nrm")
  }

  /** Per-dim decimal-exact means — [[normalizeEmbeddings]]' model state.
    * The (dim, x) explode aggregates map-side (the shuffle carries only
    * dim-keyed decimal partials, never vectors), so the scan's own
    * parallelism is enough: no spreading repartition — that was a full
    * shuffle of every embedding just to re-balance a pass whose per-row
    * work is one explode.
    */
  private def dimMeans(e: DataFrame): Array[Double] = {
    import org.apache.spark.sql.types.DecimalType
    val meansRows = e
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg((sum(col("x").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1))).as("m"))
      .collect()
    val means = new Array[Double](meansRows.length)
    meansRows.foreach(r => means(r.getInt(0)) = r.getDouble(1))
    means
  }

  /** [[normalizeEmbeddings]] in MELTED (vec_id, dim, v, norm, label) form —
    * row-for-row and bit-for-bit the array op followed by
    * `posexplode(embedding)`, restructured so the per-element work runs
    * ONCE: the array op's posexplode-of-a-derived-array shape makes
    * Catalyst push the generator's inferred `size(...) > 0` filter below
    * the projections, inlining the whole center→norm→divide→round tree
    * into a Filter that re-evaluates it several times per row (and
    * bloats codegen). Here the norm is projected once per VECTOR before
    * the explode, the explode runs over the cheap centered array, and
    * the divide+round runs once per ELEMENT after it. Same means, same
    * arithmetic, same row multiplicity (the generator sees the same
    * centered array), so the melted gate hash is unchanged.
    */
  def normalizeEmbeddingsMelted(e: DataFrame): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.normalizeEmbeddingsMelted",
      "vec_id", "embedding", "label")
    val means = dimMeans(e)
    val cent = zip_with(col("embedding"), typedLit(means),
      (x, m) => x.cast("double") - m)
    e.select(col("vec_id"), col("label"), cent.as("cent"),
        sqrt(graft.functions.VectorFunctions.dot_product(cent, cent)).as("nrm"))
      .select(col("vec_id"), col("label"), col("nrm"),
        posexplode(col("cent")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("nrm") === 0.0, col("x"))
          .otherwise(round(col("x") / col("nrm"), 6)).as("v"),
        round(col("nrm"), 6).as("norm"), col("label"))
  }

  /** Random-projection dimensionality reduction (Achlioptas-style sparse
    * integer projections): the 100 TB precursor to ANN — project
    * [[DIM]]-dim embeddings down to `outDim` before indexing/clustering.
    * Components are INTEGER-QUANTIZED on both sides so the result is
    * bit-exact cross-engine with no FP-order caveat at all: inputs are
    * quantized to round(1000·x) (one correctly-rounded multiply + one
    * half-away round, both engines identical) and projection weights are
    * floor(7·u)−3 ∈ {−3…3} from the counter-based RNG — every product
    * and sum is then an integer-valued double well under 2^53, so
    * accumulation order cannot matter. Like [[lshSignature]], the weight
    * matrix is materialized driver-side as array literals (outDim×DIM
    * small-int model constants) and each output dim is one native
    * codegen'd dot product; pure projection, NO shuffle — deliberately no
    * spreading repartition either (the per-row work is outDim dot
    * products, not an explode; scan parallelism is enough).
    */
  def randomProjection(e: DataFrame, outDim: Int = 16, seed: Long = 909L): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.randomProjection", "vec_id", "embedding")
    val q = transform(col("embedding"), x => round(x.cast("double") * 1000.0, 0))
    val proj = array((0 until outDim).map { j =>
      val plane = Array.tabulate(DIM)(i =>
        math.floor(DeterministicRng.uniform(seed, j.toLong, 0L, i.toLong) * 7.0) - 3.0)
      graft.functions.VectorFunctions.dot_product(col("qv"), typedLit(plane)).cast("long")
    }: _*)
    e.withColumn("qv", q)
      .select(col("vec_id"), proj.as("rp"))
  }

  /** Exact all-pairs near-duplicate pairs at `threshold` — O(N²), the
    * oracle anchor. Use [[nearPairsLsh]] at corpus scale.
    */
  def nearPairs(e: DataFrame, threshold: Double): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.nearPairs", "vec_id", "embedding")
    val a = e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** LSH-BLOCKED near-dup pairs: candidates = pairs sharing any (table,
    * signature) bucket across `tables` hyperplane tables (one corpus scan
    * computes all signatures, exploded to (tbl, sig) rows); candidates are
    * then verified with the EXACT cosine, so precision is exact and only
    * recall depends on the blocking. Candidates stay 16-byte id rows
    * through the bucket join (the shuffle never ships embeddings), and are
    * verified WITHOUT a pre-verification distinct: deduplicating millions
    * of candidate rows is a full extra exchange, while re-verifying the
    * ~tables·2^-bits duplicate collisions is a few pipelined codegen'd dot
    * products each — the vector attach joins, cosine and threshold filter
    * all run in the same stage, and the distinct happens after the filter
    * on the few surviving pairs.
    *
    * Threshold-dependence (measured on the test corpus): at threshold 0.40
    * qualifying pairs are the smooth tail of the random-cosine distribution
    * (bit agreement 0.63 vs 0.50 random, only a 1.26× separation per bit),
    * so near-total recall needs enough tables that candidate volume EXCEEDS
    * all-pairs (~3× at the gate constants) — there is no exact
    * subquadratic method for dense low-threshold similarity joins on
    * unstructured data, and at that threshold this op demonstrates the
    * bucketed SHAPE. It earns its keep on real near-dup corpora
    * (cos ≥ 0.8–0.9, agreement ≥ 0.86): identical plan, candidates a
    * small fraction of all pairs — MEASURED in AnnClusteredSpec ("wins
    * its intended regime"): on a sparse planted near-dup corpus at 0.9
    * the blocked path reproduces the exact pair set with candidate volume
    * under a quarter of all-pairs (12-bit/24-table configuration).
    */
  def nearPairsLsh(e0: DataFrame, threshold: Double, bits: Int, tables: Int,
      seed: Long, maxCandidates: Long = 200000000L): DataFrame = {
    OpContract.requireCols(e0, "SimilarityOps.nearPairsLsh", "vec_id", "embedding")
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
    val sigArr = graft.functions.VectorFunctions.lsh_signatures(
      col("embedding"), seed, tables, bits, DIM)
    val sigs0 = e.select(col("vec_id"), posexplode(sigArr).as(Seq("tbl", "sig")))
    // SATURATION GUARD (r15): a fixed (bits, tables) blocking saturates
    // when the corpus outgrows 2^bits — every bucket goes quadratic and
    // the candidate shuffle explodes long before the verify stage can
    // prune (at 30x the gate corpus this op OOM'd a 64 g heap and filled
    // ~79 GB of shuffle disk before dying). Estimate the candidate count
    // from bucket occupancies (Σ c·(c−1)/2 — one cheap aggregate over the
    // signature rows, broadcast as a scalar) and refuse LOUDLY on the
    // FIRST map-side row of the candidate shuffle, before any pair is
    // written. The guard is plan-internal and lazy: at sane occupancy it
    // is a constant-true filter, and the only added cost is the broadcast
    // job's signature scan+agg. The estimate is a guard, not an output —
    // a double sum is deliberate (an exact integer Σc² would itself
    // overflow at exactly the corpus sizes the guard exists for).
    // (estimate from the raw scan, not the repartitioned branch — the
    // guard needs bucket counts only, and re-running the repartition
    // exchange inside the broadcast job would double its cost)
    val est = e0.select(posexplode(sigArr).as(Seq("tbl", "sig")))
      .groupBy("tbl", "sig").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c").cast("double") * (col("c") - 1) / 2.0),
        lit(0.0)).as("est_cand"))
    val sigs = sigs0.crossJoin(broadcast(est))
      .filter(when(col("est_cand") <= lit(maxCandidates.toDouble), lit(true))
        .otherwise(raise_error(concat(
          lit("SimilarityOps.nearPairsLsh: ~"), col("est_cand").cast("long"),
          lit(s" candidate pairs from the (bits=$bits, tables=$tables) " +
            s"blocking exceed maxCandidates=$maxCandidates — the fixed-width " +
            "signature is saturated at this corpus size; scale bits with " +
            "log2(n) (the near_pairs_lsh_09_scaledbits twin) or raise " +
            "maxCandidates"))).cast("boolean")))
      .select(col("vec_id"), col("tbl"), col("sig"))
    val cand = sigs.as("x").join(sigs.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    val va = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val vb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", cosine(col("ea"), col("eb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
      .distinct()
  }

  /** The release build's [[semanticDecontaminate]] blocking: 4-bit
    * signatures in 48 tables from hyperplane seed 4241. [[graft.Pipeline]]
    * and the streaming ingest ([[graft.streaming.StreamOps]]) both use
    * these, so a streamed batch drops exactly the vectors the batch build
    * drops.
    */
  val RELEASE_DECON_BITS = 4
  val RELEASE_DECON_TABLES = 48
  val RELEASE_DECON_SEED = 4241L

  /** SEMANTIC DECONTAMINATION — drop every corpus vector whose embedding
    * is ≥ `threshold` cosine to ANY benchmark vector: the eval-leakage
    * guard a training pipeline runs before the corpus ships (n-gram
    * decontamination misses paraphrases and translations, so production
    * pipelines add an embedding pass against the eval suites). Candidates
    * come from the same random-hyperplane blocking as [[nearPairsLsh]] —
    * a corpus vector is checked only against benchmark vectors sharing an
    * LSH (table, signature) bucket — and every candidate is verified with
    * the EXACT cosine, so precision is exact and only recall depends on
    * the blocking (the per-pair miss analysis on [[nearPairsLsh]] applies
    * verbatim; cross-corpus pairs are pairs like any other).
    *
    * Scale shape — the benchmark set (eval suites: thousands of rows vs
    * the corpus' billions) is BROADCAST twice: once as its exploded
    * (tbl, sig, embedding) bucket table, joined inside the corpus scan —
    * corpus signatures explode in-partition and pipeline straight into
    * the broadcast join, and the verification dot product runs in that
    * same stage — and once as the matched-ids set for the final
    * left_anti. The anti side never shuffles, and the only hash exchange
    * in the whole plan is a distinct over the matched 8-byte ids (≈ the
    * contamination rate times the corpus, typically ≪ 1%). The matching
    * branch pays ONE spreading round-robin of the corpus before the
    * signature stage — the [[nearPairsLsh]] small-file-parallelism
    * discipline: without it a few-file corpus runs every candidate
    * verification on a few cores (measured 13.6 s → spread at sf0.1); on
    * a production many-partition scan it is droppable. Duplicate
    * candidates from multi-table collisions are re-verified rather than
    * pre-deduplicated, the [[nearPairsLsh]] tradeoff: a few extra
    * pipelined dot products beat an embedding-carrying exchange.
    *
    * Returns the surviving corpus rows (all input columns), ordered by
    * vec_id.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      threshold: Double, bits: Int, tables: Int, seed: Long): DataFrame = {
    OpContract.requireCols(corpus,
      "SimilarityOps.semanticDecontaminate corpus", "vec_id", "embedding")
    OpContract.requireCols(bench,
      "SimilarityOps.semanticDecontaminate bench", "vec_id", "embedding")
    def sigArr(v: Column) = graft.functions.VectorFunctions.lsh_signatures(
      v, seed, tables, bits, DIM)
    val bsig = bench.select(col("embedding").as("be"),
      posexplode(sigArr(col("embedding"))).as(Seq("btbl", "bsig")))
    val matched = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"),
        posexplode(sigArr(col("embedding"))).as(Seq("tbl", "sig")))
      .join(broadcast(bsig),
        col("tbl") === col("btbl") && col("sig") === col("bsig"))
      .filter(cosine(col("embedding"), col("be")) >= threshold)
      .select("vec_id").distinct()
    corpus.join(broadcast(matched), Seq("vec_id"), "left_anti")
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Brute-force cosine top-k: exact ANN baseline. Query side is tiny and
    * broadcast; rank window is per-query. `excludeQueryId` (default true)
    * drops the corpus vector whose id equals the query id — correct when
    * queries are drawn from the corpus (the gate setup); pass false when
    * query ids live in their own namespace, or corpus vectors that happen
    * to share an id would be silently excluded.
    */
  def bruteTopK(e: DataFrame, queries: DataFrame, k: Int,
      excludeQueryId: Boolean = true): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.bruteTopK corpus", "vec_id", "embedding")
    OpContract.requireCols(queries, "SimilarityOps.bruteTopK queries", "query_id", "qe")
    rankTopK(
      e.join(broadcast(queries),
          if (excludeQueryId) col("vec_id") =!= col("query_id") else lit(true))
        .withColumn("cos", cosine(col("qe"), col("embedding"))), k)
  }

  /** MMR-diversified top-k (Maximal Marginal Relevance, Carbonell &
    * Goldstein SIGIR'98) — the RAG-serving rerank that trades relevance
    * against redundancy: greedily select k of a `pool`-sized candidate
    * shortlist, each step maximizing
    * λ·cos(q, c) − (1−λ)·max_{s∈selected} cos(c, s). A plain top-k
    * returns five paraphrases of the same document; MMR returns the
    * five DIFFERENT relevant documents.
    *
    * λ is a RATIONAL `lambdaNum/lambdaDen` (default 1/2) and every
    * cosine is the round-6 value scaled to an exact integer (·10⁶), so
    * each greedy comparison is `λn·sq6 − (λd−λn)·ms6` over exact longs —
    * the argmax (ties by ascending vec_id) is engine-reproducible
    * bit-for-bit, and the whole selection is value-oracled as an
    * unrolled SQL step chain.
    *
    * Scale shape: candidate generation is [[bruteTopK]] at gate scale —
    * at corpus scale feed [[ivfTopK]]/[[lshTopK]] shortlists to
    * [[mmrRerank]] (this op = mmrRerank ∘ bruteTopK); the MMR
    * stage itself touches ONLY the pool (pool² pairwise sims per query,
    * pool bounded ≤ 64) collected to one row per query, and the greedy
    * k-step loop runs at RUNTIME inside one `aggregate(sequence(1, k))`
    * — the selected set is a lambda variable, so the expression tree is
    * CONSTANT in k (an unrolled variant re-embeds the selected-set
    * expression per step and grows geometrically — measured OOM at k=5
    * during analysis). No shuffle, no driver loop over data.
    */
  def mmrTopK(e: DataFrame, queries: DataFrame, k: Int, pool: Int = 10,
      lambdaNum: Int = 1, lambdaDen: Int = 2): DataFrame = {
    // pool is a CAP on the shortlist, not a guarantee — a query with
    // fewer candidates than k simply exhausts them (no null rows)
    require(pool >= 1 && pool <= 64, s"mmrTopK needs 1 <= pool <= 64, got $pool")
    mmrRerank(e, bruteTopK(e, queries, pool), k, lambdaNum, lambdaDen)
  }

  /** ANN-fed MMR — the serving shape of [[mmrTopK]]: rerank an EXISTING
    * candidate shortlist instead of always paying [[bruteTopK]]'s
    * per-query-batch corpus scan. `candidates` is any table in the
    * shared top-k contract `(query_id, rank, vec_id, cos)` — feed it
    * from [[ivfTopK]]/[[ivfPqTopK]]/[[lshTopK]] at corpus scale (the
    * index prunes, MMR diversifies the survivors), or [[bruteTopK]] for
    * the exact gate form; on identical shortlists the two paths select
    * identically (spec-pinned on the planted-cluster corpus). Rows with
    * `rank > 64` are dropped — the pool bound that keeps the per-query
    * pairwise-sim state ≤ 64² and the greedy argmax engine-exact.
    *
    * The greedy selection itself is [[mmrTopK]]'s documented machinery
    * verbatim: round-6 integer-scaled cosines, rational λ, the
    * runtime `aggregate(sequence(1, k))` unroll — no shuffle beyond the
    * candidate/corpus embedding join, no driver loop.
    */
  def mmrRerank(e: DataFrame, candidates: DataFrame, k: Int,
      lambdaNum: Int = 1, lambdaDen: Int = 2): DataFrame = {
    require(k >= 1 && k <= 64, s"mmrRerank needs 1 <= k <= 64, got $k")
    require(lambdaDen >= 1 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda = $lambdaNum/$lambdaDen must sit in [0, 1]")
    OpContract.requireCols(e, "SimilarityOps.mmrRerank corpus",
      "vec_id", "embedding")
    OpContract.requireCols(candidates, "SimilarityOps.mmrRerank candidates",
      "query_id", "rank", "vec_id", "cos")
    val cand = candidates.filter(col("rank") <= 64)
      .withColumn("sq6", round(col("cos") * 1e6).cast("long"))
    val ce = cand.select("query_id", "vec_id", "sq6")
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
    val sims = ce.select(col("query_id"), col("vec_id").as("va"),
        col("embedding").as("ea"))
      .join(ce.select(col("query_id").as("q2"), col("vec_id").as("vb"),
          col("embedding").as("eb")),
        col("query_id") === col("q2") && col("va") < col("vb"))
      .select(col("query_id"), col("va"), col("vb"),
        round(cosine(col("ea"), col("eb")) * 1e6).cast("long").as("s6"))
    val perQ = ce.groupBy("query_id")
      .agg(collect_list(struct(col("vec_id").as("v"), col("sq6"))).as("cands"))
      .join(sims.groupBy("query_id")
          .agg(collect_list(struct(col("va"), col("vb"), col("s6"))).as("sims")),
        Seq("query_id"), "left")
      .withColumn("sims", coalesce(col("sims"),
        array().cast("array<struct<va:bigint,vb:bigint,s6:bigint>>")))
    // greedy unroll: pick_t = argmax over unselected candidates of
    // λn·sq6 − (λd−λn)·max_selected s6, ties by ascending vec_id — all
    // exact long arithmetic (ms = 0 only at step 1, when nothing is
    // selected and the subtrahend multiplies an empty max)
    def msim(sel: Column, v: Column): Column = coalesce(
      array_max(transform(
        filter(col("sims"), p =>
          (p("va") === v && array_contains(sel, p("vb"))) ||
            (p("vb") === v && array_contains(sel, p("va")))),
        p => p("s6"))),
      lit(0L))
    def pick(sel: Column): Column = aggregate(
      filter(col("cands"), c => !array_contains(sel, c("v"))),
      lit(null).cast("struct<score:bigint,v:bigint>"),
      (acc, c) => {
        val score = lit(lambdaNum.toLong) * c("sq6") -
          lit((lambdaDen - lambdaNum).toLong) * msim(sel, c("v"))
        val cur = struct(score.as("score"), c("v").as("v"))
        when(acc.isNull || score > acc("score") ||
          (score === acc("score") && c("v") < acc("v")), cur).otherwise(acc)
      })("v")
    val selArr = aggregate(
      sequence(lit(1), lit(k)),
      array().cast("array<bigint>"),
      (sel, _) => {
        val p = pick(sel)
        when(p.isNull, sel).otherwise(concat(sel, array(p)))
      })
    val sq6Of = (v: Column) => element_at(
      map_from_arrays(transform(col("cands"), c => c("v")),
        transform(col("cands"), c => c("sq6"))), v)
    perQ.select(col("query_id"), col("cands"),
        posexplode(selArr).as(Seq("pos", "v")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("v").as("vec_id"),
        (sq6Of(col("v")).cast("double") / lit(1e6)).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Label-blocked exact kNN graph: every vector's top-k cosine neighbors
    * WITHIN its block (label = any routing key — a class label, an IVF
    * list, a SemDeDup cluster). The graph that seeds dup-graph
    * consolidation and graph-based ANN indexes, in the exact-within-block
    * regime: [[nearPairsLsh]] answers "pairs above τ", this answers "each
    * vector's k closest" with no threshold to tune.
    *
    * Scale shape: the self-join hashes on the block key only, so per-block
    * cost is quadratic in BLOCK size (the bounded routing population, same
    * contract as [[semanticDedup]]'s clusters) while total cost is linear
    * in block count; output is exactly N·k rows. The rank window partitions
    * by (label, src) — a superset of the join key — so Catalyst reuses the
    * join exchange instead of re-shuffling, and the rank<=k filter becomes
    * a WindowGroupLimit partial top-k before any window sort sees a full
    * block. Unblocked corpora route through [[lshTopK]]/[[ivfTopK]].
    *
    * FP/tie discipline is [[bruteTopK]]'s: round-6 cosine, ascending
    * dst_id tie-break — deterministic and oracle-identical.
    */
  def labelKnnGraph(e: DataFrame, k: Int): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.labelKnnGraph",
      "vec_id", "embedding", "label")
    val a = e.select(col("label"), col("vec_id").as("src_id"),
      col("embedding").as("se"))
    val b = e.select(col("label"), col("vec_id").as("dst_id"),
      col("embedding").as("de"))
    val w = Window.partitionBy(col("label"), col("src_id"))
      .orderBy(col("cos").desc, col("dst_id"))
    a.join(b, Seq("label")).filter(col("src_id") =!= col("dst_id"))
      .withColumn("cos", cosine(col("se"), col("de")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src_id", "rank", "dst_id", "cos")
  }

  /** LSH-bucketed ANN: `tables` independent hash tables (random-hyperplane
    * signatures with per-table seeds), 1-bit multiprobe per table, union of
    * candidates, exact re-rank. One corpus scan computes all signatures (a
    * native literal dot product per bit) and explodes to (tbl, sig) rows;
    * each probe touches ~N/2^bits of the corpus, so cost scales with
    * candidate count, not corpus size — the 100 TB shape.
    */
  def lshTopK(e0: DataFrame, queries: DataFrame, k: Int, tables: Int = 6,
      bits: Int = 8, seed: Long = 777L, excludeQueryId: Boolean = true): DataFrame = {
    OpContract.requireCols(e0, "SimilarityOps.lshTopK corpus", "vec_id", "embedding")
    OpContract.requireCols(queries, "SimilarityOps.lshTopK queries", "query_id", "qe")
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
    val sigArr = graft.functions.VectorFunctions.lsh_signatures(
      col("embedding"), seed, tables, bits, DIM)
    val corpus = e.select(col("vec_id"), col("embedding"),
      posexplode(sigArr).as(Seq("tbl", "sig")))
    val qsigArr = graft.functions.VectorFunctions.lsh_signatures(
      col("qe"), seed, tables, bits, DIM)
    val q = queries.select(col("query_id"), col("qe"),
        posexplode(qsigArr).as(Seq("qtbl", "qsig")))
      .select(col("query_id"), col("qtbl"), col("qsig"))
    val probes = q.select(col("query_id"), col("qtbl"), col("qsig"),
        explode(array(lit(0) +: (0 until bits).map(j => lit(1 << j)): _*)).as("flip"))
      .withColumn("probe_sig", col("qsig").bitwiseXOR(col("flip")))
    // dedup candidate IDs only (cheap 16-byte rows), then rejoin the
    // vectors once — distinct over rows carrying the float arrays would
    // hash/compare 64 floats per row per table per probe
    val self = if (excludeQueryId) col("vec_id") =!= col("query_id") else lit(true)
    val cand = probes.join(corpus,
        col("tbl") === col("qtbl") && col("sig") === col("probe_sig") && self)
      .select(col("query_id"), col("vec_id")).distinct()
    rankTopK(
      cand.join(broadcast(queries), "query_id")
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .withColumn("cos", cosine(col("qe"), col("embedding"))), k)
  }

  /** IVF-style ANN: the corpus is partitioned into inverted lists under
    * the given centroids `(cid, ce)`; each query probes its nprobe nearest
    * centroids and re-ranks only those lists. Per-query cost ∝ probed-list
    * size — the other classic ANN scale shape next to LSH.
    */
  def ivfTopK(e0: DataFrame, queries: DataFrame, cents: DataFrame, nprobe: Int,
      k: Int, excludeQueryId: Boolean = true): DataFrame = {
    OpContract.requireCols(e0, "SimilarityOps.ivfTopK corpus", "vec_id", "embedding")
    OpContract.requireCols(queries, "SimilarityOps.ivfTopK queries", "query_id", "qe")
    OpContract.requireCols(cents, "SimilarityOps.ivfTopK centroids", "cid", "ce")
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
    val assigned = assignToCentroids(e, cents)
    val qw = Window.partitionBy(col("query_id")).orderBy(col("qcsim").desc, col("cid"))
    val probes = queries
      .join(broadcast(cents))
      .withColumn("qcsim", cosine(col("qe"), col("ce")))
      .withColumn("qrn", row_number().over(qw))
      .filter(col("qrn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cid"))
    rankTopK(
      probes.join(assigned, "cid")
        .filter(if (excludeQueryId) col("vec_id") =!= col("query_id") else lit(true))
        .withColumn("cos", cosine(col("qe"), col("embedding"))), k)
  }

  /** BITEXT MINING by ratio margin (Artetxe–Schwenk '19; the
    * LASER/CCMatrix parallel-corpus construction): for every vector on
    * side A, its best side-B match scored by
    * `margin = cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2)` — the cosine
    * normalized by the two local neighborhood densities, which kills the
    * hub vectors that plain cosine thresholds mis-mine. Output per A-row:
    * `(src_id, dst_id, cos, margin)` for the best-cosine B match, with
    * margin ≥ `minMargin` (default 0.0 keeps every non-negative-margin
    * best match; production mining thresholds around 1.05–1.1).
    *
    * Exactness: cosines are the repo's round-6 doubles fixed as
    * DECIMAL(8,6); the two k-neighborhood sums are exact decimal sums
    * carrying their ACTUAL sizes k_x, k_y ≤ k (a sparse candidate set
    * averages over what it has); `margin = 2·k_x·k_y·cos /
    * (sumₓ·k_y + sum_y·k_x)` is ONE division of exact decimals (guarded
    * NULL when the denominator is ≤ 0). Ranks break ties by id.
    *
    * Scale shape: this form scores A×B exhaustively — the exact baseline
    * (the gate's scale). At corpus scale, swap the candidate generator
    * for [[ivfTopKFromIndex]]/[[lshTopK]] over each side (the same
    * downstream margin arithmetic applies to any candidate set); both
    * rank windows partition by the vector id and reuse one exchange.
    */
  def bitextMine(embA: DataFrame, embB: DataFrame, k: Int = 4,
      minMargin: Double = 0.0): DataFrame = {
    require(k >= 1, s"bitextMine needs k >= 1, got $k")
    OpContract.requireCols(embA, "SimilarityOps.bitextMine side A", "vec_id", "embedding")
    OpContract.requireCols(embB, "SimilarityOps.bitextMine side B", "vec_id", "embedding")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(8, 6)
    val scored = embA.select(col("vec_id").as("src_id"), col("embedding").as("ea"))
      .crossJoin(embB.select(col("vec_id").as("dst_id"), col("embedding").as("eb")))
      .select(col("src_id"), col("dst_id"),
        cosine(col("ea"), col("eb")).cast(dec).as("c"))
      .localCheckpoint()
    marginOverScored(scored, k, minMargin)
  }

  /** The blocked [[bitextMine]] — the production shape: candidate pairs
    * come from the [[nearPairsLsh]] random-hyperplane buckets (a pair is
    * scored only when the two sides share an LSH (table, signature)
    * bucket), and the ratio margin is computed over the CANDIDATE
    * neighborhoods — exactly how production mining does it (CCMatrix
    * computes margins over faiss ANN neighborhoods, not exhaustive ones).
    * Work ∝ bucket collisions, never \|A\|·\|B\|; grow `bits` with the
    * corpus to hold bucket occupancy constant (the nearPairsLsh scaling
    * analysis applies verbatim).
    */
  def bitextMineLsh(embA: DataFrame, embB: DataFrame, k: Int = 4,
      minMargin: Double = 0.0, bits: Int = 8, tables: Int = 16,
      seed: Long = 4241L): DataFrame = {
    require(k >= 1, s"bitextMineLsh needs k >= 1, got $k")
    OpContract.requireCols(embA, "SimilarityOps.bitextMineLsh side A", "vec_id", "embedding")
    OpContract.requireCols(embB, "SimilarityOps.bitextMineLsh side B", "vec_id", "embedding")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(8, 6)
    def sigsOf(e: DataFrame, idAs: String) = e
      .repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as(idAs),
        posexplode(graft.functions.VectorFunctions.lsh_signatures(
          col("embedding"), seed, tables, bits, DIM)).as(Seq("tbl", "sig")))
    val cand = sigsOf(embA, "src_id").as("x")
      .join(sigsOf(embB, "dst_id").as("y"),
        col("x.tbl") === col("y.tbl") && col("x.sig") === col("y.sig"))
      .select(col("src_id"), col("dst_id")).distinct()
    val scored = cand
      .join(embA.select(col("vec_id").as("src_id"), col("embedding").as("ea")), "src_id")
      .join(embB.select(col("vec_id").as("dst_id"), col("embedding").as("eb")), "dst_id")
      .select(col("src_id"), col("dst_id"),
        cosine(col("ea"), col("eb")).cast(dec).as("c"))
      .localCheckpoint()
    marginOverScored(scored, k, minMargin)
  }

  /** Shared margin arithmetic over a scored candidate table
    * `(src_id, dst_id, c DECIMAL(8,6))` — see [[bitextMine]] for the
    * exactness contract. */
  private def marginOverScored(scored: DataFrame, k: Int,
      minMargin: Double): DataFrame = {
    val sumDec = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)
    val wx = Window.partitionBy(col("src_id")).orderBy(col("c").desc, col("dst_id"))
    val wy = Window.partitionBy(col("dst_id")).orderBy(col("c").desc, col("src_id"))
    // neighborhood sums carry their ACTUAL size: a sparse candidate set
    // (blocked path) must average over the candidates it has, not be
    // divided by a constant k — otherwise an isolated pair whose only
    // neighbor is its own match would score margin ≈ k regardless of
    // cosine quality, exactly the hub-free noise the margin exists to kill
    val sumX = scored.withColumn("r", row_number().over(wx)).filter(col("r") <= k)
      .groupBy("src_id").agg(sum(col("c")).cast(sumDec).as("sum_x"),
        count(lit(1)).as("k_x"))
    val sumY = scored.withColumn("r", row_number().over(wy)).filter(col("r") <= k)
      .groupBy("dst_id").agg(sum(col("c")).cast(sumDec).as("sum_y"),
        count(lit(1)).as("k_y"))
    val best = scored.withColumn("r", row_number().over(wx)).filter(col("r") === 1)
    // margin = c / ((sum_x/k_x + sum_y/k_y) / 2) cross-multiplied into
    // one division of exact decimals
    val num = (lit(2L) * col("k_x") * col("k_y") * col("c")).cast(sumDec)
    val den = (col("sum_x") * col("k_y") + col("sum_y") * col("k_x")).cast(sumDec)
    best.join(sumX, "src_id").join(sumY, "dst_id")
      .withColumn("margin",
        when(den > 0, num.cast("double") / den.cast("double")))
      .filter(col("margin").isNotNull && col("margin") >= minMargin)
      .select(col("src_id"), col("dst_id"), col("c").cast("double").as("cos"),
        col("margin"))
  }

  /** Persist an IVF index for serving: `centroids.parquet` (cid, ce) plus
    * the assigned corpus written `partitionBy("cid")` — one directory per
    * inverted list, so a probe that touches nprobe lists READS nprobe
    * directories (partition pruning at the file level; the
    * [[readMinhashIndex]]-style counterpart for the ANN family). The
    * build pays one assignment pass + one cid-partitioned shuffle write;
    * every later query batch skips both. Also writes `stats.parquet` —
    * the build's assignment-similarity percentiles (p10/p50 of each
    * vector's cosine to its winning centroid), the fixed reference
    * [[appendToIvfIndex]]'s drift guard compares against.
    */
  def writeIvfIndex(e0: DataFrame, cents: DataFrame, dir: String): Unit = {
    OpContract.requireCols(e0, "SimilarityOps.writeIvfIndex corpus", "vec_id", "embedding")
    OpContract.requireCols(cents, "SimilarityOps.writeIvfIndex centroids", "cid", "ce")
    // a FRESH build owns the dir: stale appends/drift were assigned under
    // the PREVIOUS centroids (their cid routing is meaningless now) and a
    // leftover base pointer would alias the new lists.parquet away
    java.nio.file.Files.deleteIfExists(ivfPointerPath(dir))
    graft.sources.SnapshotStore.deleteRecursively(s"$dir/appends")
    graft.sources.SnapshotStore.deleteRecursively(s"$dir/drift")
    cents.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
    assignToCentroids(e, cents)
      .select(col("vec_id"), col("embedding"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists.parquet")
    // stats from the WRITTEN index (one columnar re-scan, no second
    // corpus-sized materialization): the cid is known per row, so the
    // winning similarity is one broadcast join + cosine, no rank window
    ivfAssignmentStats(e0.sparkSession, dir)
      .write.mode("overwrite").parquet(s"$dir/stats.parquet")
  }

  /** Reload a persisted [[writeIvfIndex]] as (centroids, lists); feeds
    * [[ivfTopKFromIndex]] (round-trip equality with the from-scratch
    * [[ivfTopK]] pinned in SimilaritySpec).
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/centroids.parquet"),
      spark.read.parquet(s"$dir/${ivfBaseState(dir)._1}"))

  /** Atomic base pointer of a compacted IVF index: `_base` holds the
    * live base-lists subdir name (line 1) and the comma-joined snapshot
    * versions already FOLDED into it (line 2), replaced by atomic rename
    * — the [[graft.sources.SnapshotStore]] `_latest` discipline. Absent
    * file = the original [[writeIvfIndex]] layout (`lists.parquet`,
    * nothing folded), so pre-compaction indexes read unchanged.
    */
  private def ivfPointerPath(dir: String) =
    java.nio.file.Paths.get(dir, "_base")

  /** (live base subdir name, versions folded into it) — see
    * [[ivfPointerPath]]. */
  private[graft] def ivfBaseState(dir: String): (String, Set[Long]) = {
    val p = ivfPointerPath(dir)
    if (!java.nio.file.Files.isRegularFile(p)) ("lists.parquet", Set.empty)
    else {
      val lines = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).split("\n", -1)
      val folded = if (lines.length < 2 || lines(1).trim.isEmpty) Set.empty[Long]
        else lines(1).trim.split(",").map(_.toLong).toSet
      (lines(0).trim, folded)
    }
  }

  /** MAINTENANCE: fold every committed-but-unfolded `appends/version=*`
    * subdir into ONE new base-lists directory and atomically flip the
    * [[ivfPointerPath]] pointer at it — the ANN twin of
    * [[graft.streaming.StreamOps.compactIngestLog]]. Continuous ingest
    * otherwise accretes one append subdir per published version, and a
    * probe reads its nprobe cid dirs under the base PLUS EVERY append
    * version — after N batches the file count (not bytes) dominates the
    * read path. Compaction restores the one-dir-per-list invariant: the
    * union is shuffled BY cid before the partitioned write, so each
    * inverted list lands in O(1) files regardless of how many appends
    * fed it, and probe cost is flat in the number of folded versions.
    *
    * Crash discipline (every window leaves a correct, readable index):
    * write the new base dir → ATOMIC pointer flip (base name + folded
    * set change together, so a reader never sees a version both in the
    * base and as a live append) → vacuum the folded subdirs and any
    * unpointed base dirs. A crash before the flip leaves garbage the
    * next run overwrites; after it, garbage the next run vacuums.
    * Folded versions stay ANN-covered for
    * [[graft.streaming.StreamOps.reconcileIvfAppends]] via the pointer's
    * folded set ([[annIndexedVersions]]); their drift history is
    * untouched (`drift/` is pointer-independent metadata). Returns the
    * number of versions folded (0 = nothing to do, no write happened).
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    val (_, folded0) = ivfBaseState(dir)
    // heal first: a crash between a previous run's pointer flip and its
    // vacuum leaves folded versions' subdirs lingering (readers already
    // exclude them via the pointer — this is garbage collection only)
    annAppendedVersions(dir).filter(folded0).foreach(v =>
      graft.sources.SnapshotStore.deleteRecursively(s"$dir/appends/version=$v"))
    val toFold = annAppendedVersions(dir).filterNot(folded0)
    if (toFold.isEmpty) return 0L
    val (_, lists) = readIvfIndexAll(spark, dir)
    val newName = s"lists_c=${toFold.max}.parquet"
    lists.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/$newName")
    val content = newName + "\n" +
      (folded0 ++ toFold).toSeq.sorted.mkString(",")
    val tmp = java.nio.file.Paths.get(dir, s"_base.tmp.${toFold.max}")
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, ivfPointerPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // vacuum: folded append subdirs + every base dir the pointer left
    (folded0 ++ toFold).foreach(v => graft.sources.SnapshotStore
      .deleteRecursively(s"$dir/appends/version=$v"))
    val kids = new java.io.File(dir).listFiles()
    if (kids != null) kids.toSeq
      .filter(f => f.isDirectory && f.getName != newName &&
        (f.getName == "lists.parquet" || f.getName.startsWith("lists_c=")))
      .foreach(f => graft.sources.SnapshotStore.deleteRecursively(f.getPath))
    toFold.size.toLong
  }

  /** Assignment-quality summary of a persisted IVF index: (n, p10, p50)
    * of each indexed vector's cosine to its own list's centroid — the
    * recall proxy the drift guard tracks (vectors drifting away from
    * every centroid land in lists that prune badly long before top-k
    * quality visibly degrades). Exact interpolated percentiles over
    * round-6 cosines: deterministic, engine-reproducible.
    */
  def ivfAssignmentStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (cents, lists) = readIvfIndex(spark, dir)
    lists.join(broadcast(cents), "cid")
      .select(cosine(col("embedding"), col("ce")).as("csim"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(csim, 0.1)").as("p10"),
        expr("percentile(csim, 0.5)").as("p50"))
  }

  /** INCREMENTAL IVF index append — the ingest path [[writeIvfIndex]]
    * lacks: assign `newVectors` against the index's PERSISTED centroids
    * and append them to the per-list directories, so new embeddings join
    * the ANN index at per-batch cost (batch × centroids assignment + a
    * batch-sized partitioned append) instead of the full-corpus rebuild.
    * Serving ([[ivfTopKFromIndex]]) needs no change: the probe reads the
    * same cid dirs, now with extra part files (AnnClusteredSpec pins
    * round-trip equality with a from-scratch rebuild on the union corpus
    * under the same centroids).
    *
    * Returns a one-row DRIFT REPORT instead of Unit — appending under
    * FROZEN centroids is only sound while the new data still looks like
    * the build: `(n_appended, batch_p10, batch_p50, build_p10, build_p50,
    * recommend_retrain)`, where `recommend_retrain` fires when the
    * batch's MEDIAN assignment similarity falls below the build's 10th
    * percentile (the appended vectors sit farther from every centroid
    * than 90% of the build did — list routing is degrading). On a firing
    * guard: retrain centroids ([[trainCentroids]]), rebuild with
    * [[writeIvfIndex]], and audit the new partition's separation with
    * [[centroidSimilarity]] over the cid labels. The persisted
    * `stats.parquet` stays the ORIGINAL build's reference — appends
    * measure drift against the trained state, not against yesterday's
    * drift.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newVectors: DataFrame): DataFrame = {
    OpContract.requireCols(newVectors, "SimilarityOps.appendToIvfIndex",
      "vec_id", "embedding")
    val assigned = assignToPersistedCentroids(spark, dir, newVectors).persist()
    try {
      assigned.select(col("vec_id"), col("embedding"), col("cid"))
        .write.mode("append").partitionBy("cid").parquet(s"$dir/lists.parquet")
      driftReport(spark, dir, assigned)
    } finally { assigned.unpersist(); () }
  }

  /** Nearest persisted centroid per new vector: the shared assignment
    * core of [[appendToIvfIndex]] and [[appendVersionToIvfIndex]] —
    * batch × broadcast-centroids, deterministic min-cid tie break.
    */
  private def assignToPersistedCentroids(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, newVectors: DataFrame): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    newVectors
      .repartition(newVectors.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(cents))
      .withColumn("csim", cosine(col("embedding"), col("ce")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"), col("csim"))
  }

  /** The one-row drift report both append paths return: batch assignment
    * percentiles vs the persisted BUILD stats, `recommend_retrain` when
    * the batch median falls below the build p10 (see
    * [[appendToIvfIndex]]'s contract).
    */
  private def driftReport(spark: org.apache.spark.sql.SparkSession,
      dir: String, assigned: DataFrame): DataFrame = {
    val batch = assigned.agg(count(lit(1)).as("n_appended"),
      expr("percentile(csim, 0.1)").as("batch_p10"),
      expr("percentile(csim, 0.5)").as("batch_p50"))
    val build = spark.read.parquet(s"$dir/stats.parquet")
      .select(col("p10").as("build_p10"), col("p50").as("build_p50"))
    // empty batch → NULL percentiles; coalesce keeps the verdict a
    // real boolean (no retrain signal from no data) instead of a NULL
    // that NPEs a getBoolean reader
    batch.crossJoin(broadcast(build))
      .withColumn("recommend_retrain",
        coalesce(col("batch_p50") < col("build_p10"), lit(false)))
      .localCheckpoint()
  }

  /** VERSIONED ANN index append — [[appendToIvfIndex]] re-expressed for
    * the streaming ingest's crash discipline: the batch's vectors land in
    * an OVERWRITE `appends/version=<v>/` partition subdir (cid-partitioned
    * inside, like the base lists) instead of appending part files into
    * `lists.parquet`, so the write is IDEMPOTENT per snapshot version — a
    * micro-batch replay or a [[graft.streaming.StreamOps]] reconcile
    * re-writes the same subdir and duplicate index rows are structurally
    * impossible (the `_ingest_index` per-version-overwrite argument). A
    * version counts as ANN-indexed exactly when its subdir committed
    * (`_SUCCESS`). The drift report is persisted to `drift/version=<v>`
    * (and returned), giving continuous ingest a queryable drift HISTORY
    * ([[ivfDriftHistory]]) rather than one transient verdict; the
    * persisted `stats.parquet` stays the original build's reference.
    * Serve with [[readIvfIndexAll]] + [[ivfTopKFromIndex]].
    */
  def appendVersionToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, version: Long, newVectors: DataFrame): DataFrame = {
    OpContract.requireCols(newVectors, "SimilarityOps.appendVersionToIvfIndex",
      "vec_id", "embedding")
    val assigned = assignToPersistedCentroids(spark, dir, newVectors).persist()
    try {
      assigned.select(col("vec_id"), col("embedding"), col("cid"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$dir/appends/version=$version")
      val report = driftReport(spark, dir, assigned)
      report.write.mode("overwrite").parquet(s"$dir/drift/version=$version")
      report
    } finally { assigned.unpersist(); () }
  }

  /** Reload a persisted index INCLUDING its versioned appends as
    * (centroids, lists): the base `lists.parquet` unioned with every
    * committed `appends/version=*` subdir, projected to the serving
    * schema — [[ivfTopKFromIndex]] works unchanged (AnnClusteredSpec
    * pins equality with a from-scratch rebuild on the union corpus
    * under the same centroids).
    */
  def readIvfIndexAll(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (cents, base) = readIvfIndex(spark, dir)
    // versions already folded into the base are EXCLUDED even if their
    // append subdir still exists (the compaction crash window between
    // pointer flip and vacuum) — the pointer's folded set and base name
    // flip in one atomic rename, so no version is ever read twice
    val folded = ivfBaseState(dir)._2
    val lists = annAppendedVersions(dir).filterNot(folded) match {
      case Nil => base
      case vs => base.unionByName(
        spark.read.option("basePath", s"$dir/appends")
          .parquet(vs.map(v => s"$dir/appends/version=$v"): _*)
          .select(col("vec_id"), col("embedding"), col("cid")))
    }
    (cents, lists)
  }

  /** Version subdirs of `appends/` that fully committed. */
  private[graft] def annAppendedVersions(dir: String): Seq[Long] = {
    val d = new java.io.File(s"$dir/appends")
    if (!d.isDirectory || d.listFiles() == null) Nil
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("version=") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName.stripPrefix("version=").toLong).sorted
  }

  /** Every snapshot version the ANN index COVERS: live append subdirs
    * plus versions [[compactIvfIndex]] folded into the base (their
    * subdirs are vacuumed, the pointer remembers them) — the reconcile
    * contract ([[graft.streaming.StreamOps.reconcileIvfAppends]] must
    * not re-append a folded version's vectors).
    */
  private[graft] def annIndexedVersions(dir: String): Seq[Long] =
    (annAppendedVersions(dir).toSet ++ ivfBaseState(dir)._2).toSeq.sorted

  /** The persisted drift-report history of a versioned-append index, one
    * row per appended snapshot version, version-ordered — "when did the
    * arriving data start drifting off the trained centroids" as a table
    * instead of a log grep.
    */
  def ivfDriftHistory(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // drift/ is listed directly (not via the appends subdirs): a version
    // folded by compactIvfIndex keeps its drift row — history survives
    // maintenance
    val dd = new java.io.File(s"$dir/drift")
    val vs =
      (if (!dd.isDirectory || dd.listFiles() == null) Nil
       else dd.listFiles().toSeq
         .filter(f => f.isDirectory && f.getName.startsWith("version=") &&
           new java.io.File(f, "_SUCCESS").isFile)
         .map(_.getName.stripPrefix("version=").toLong).sorted)
    require(vs.nonEmpty, s"SimilarityOps.ivfDriftHistory: no drift reports at $dir")
    spark.read.option("basePath", s"$dir/drift")
      .parquet(vs.map(v => s"$dir/drift/version=$v"): _*)
      .withColumn("version", col("version").cast("long"))
      .orderBy("version")
  }

  /** HARD-NEGATIVE MINING for contrastive embedding training (the
    * triplet/InfoNCE data prep): per query, the top-`k` corpus vectors
    * whose cosine falls in the semi-hard band `[lo, hi)` — similar
    * enough to teach the margin (≥ lo prunes the easy negatives the
    * loss ignores), but below the positive/near-dup zone (< hi keeps
    * paraphrases and true matches out of the negative set, the label
    * noise that collapses contrastive training). Emits the shared
    * top-k contract `(query_id, rank, vec_id, cos)`.
    *
    * Works on ANY scored candidate table in the `(query_id, vec_id,
    * cos)` contract — the [[mmrRerank]] composition rule: at gate scale
    * feed the exhaustive scores ([[hardNegatives]] = this ∘ brute
    * scoring); at corpus scale feed an ANN shortlist with `pool` ≫ k
    * ([[ivfTopKFromIndex]]/[[lshTopK]] target the top of the cosine
    * distribution, which is exactly where the semi-hard band sits —
    * take top-pool, band-filter, keep k). Band edges compare against
    * the round-6 cosine with both engines evaluating the identical
    * literals, so membership is engine-stable.
    */
  def hardNegativesFrom(candidates: DataFrame, k: Int,
      lo: Double, hi: Double): DataFrame = {
    OpContract.requireCols(candidates, "SimilarityOps.hardNegativesFrom",
      "query_id", "vec_id", "cos")
    require(lo < hi, s"hardNegativesFrom: lo < hi required, got [$lo, $hi)")
    rankTopK(candidates.filter(col("cos") >= lo && col("cos") < hi)
      .select("query_id", "vec_id", "cos"), k)
  }

  /** [[hardNegativesFrom]] over the exhaustive brute scoring — the gate
    * anchor; broadcast query side, per-query rank window.
    */
  def hardNegatives(e: DataFrame, queries: DataFrame, k: Int,
      lo: Double, hi: Double): DataFrame = {
    OpContract.requireCols(e, "SimilarityOps.hardNegatives corpus",
      "vec_id", "embedding")
    OpContract.requireCols(queries, "SimilarityOps.hardNegatives queries",
      "query_id", "qe")
    hardNegativesFrom(
      e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("qe"), col("embedding"))), k, lo, hi)
  }

  /** [[ivfTopK]] served from a persisted index: identical probe + re-rank,
    * but the assignment pass is skipped — `lists` is the cid-partitioned
    * table [[writeIvfIndex]] wrote, and the probe's `cid` filter prunes to
    * the probed list directories on disk.
    */
  def ivfTopKFromIndex(lists: DataFrame, queries: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int, excludeQueryId: Boolean = true): DataFrame = {
    OpContract.requireCols(lists, "SimilarityOps.ivfTopKFromIndex lists",
      "vec_id", "embedding", "cid")
    OpContract.requireCols(queries, "SimilarityOps.ivfTopKFromIndex queries",
      "query_id", "qe")
    OpContract.requireCols(cents, "SimilarityOps.ivfTopKFromIndex centroids",
      "cid", "ce")
    val qw = Window.partitionBy(col("query_id")).orderBy(col("qcsim").desc, col("cid"))
    val probes = queries
      .join(broadcast(cents))
      .withColumn("qcsim", cosine(col("qe"), col("ce")))
      .withColumn("qrn", row_number().over(qw))
      .filter(col("qrn") <= nprobe)
      .select(col("query_id"), col("qe"), col("cid"))
    rankTopK(
      probes.join(lists, "cid")
        .filter(if (excludeQueryId) col("vec_id") =!= col("query_id") else lit(true))
        .withColumn("cos", cosine(col("qe"), col("embedding"))), k)
  }

  /** Upper-triangle COVARIANCE MATRIX of the embedding column — the
    * second-moment statistics feeding whitening, PCA, and the anisotropy
    * audits (a collapsed embedding space shows up as a few dominant
    * covariance entries long before ANN recall degrades). Population
    * covariance of the 1e-6-quantized embedding x̃ = round(1e6·x)/1e6:
    * cov(i,j) = E[x̃_i·x̃_j] − E[x̃_i]·E[x̃_j], emitted at 6 decimals.
    * Output `(i, j, cov)` for 0 ≤ i ≤ j < dim.
    *
    * Scale shape: ONE corpus scan, dim-bounded MODEL STATE. The corpus is
    * exploded to the sliced j ≥ i pair stream (two chained codegen
    * generators — `slice` keeps the j-explode to d(d+1)/2 rows per vector
    * instead of d²), then a single map-side-combined aggregate carries
    * Σq_i·q_j, Σq_i and Σq_j per cell: the shuffle is partitions ×
    * d(d+1)/2 sum rows, never data-proportional. The per-cell Σq_i is the
    * SAME multiset of addends as a global per-dim mean — integer sums are
    * order-independent, so folding the means into the one aggregate (vs a
    * separate means pass + broadcast joins, which plans two extra corpus
    * scans) changes no output bit.
    *
    * Cross-engine FP: ZERO caveat — the emb_rp_reduce integer-quantize
    * discipline, adopted after the r7 driver gate flipped a
    * round-product-then-cast cell (VERDICT r7). Inputs quantize to
    * q = round(1e6·x) ONCE (x·1e6 is one correctly-rounded IEEE multiply;
    * an integer±0.5 midpoint at |q| < 2⁵¹ is exactly representable, so
    * away-from-zero rounding agrees in any engine); every downstream sum
    * and the mean correction n·Σq_iq_j − Σq_i·Σq_j run in exact
    * DECIMAL(38,0) integer arithmetic (magnitudes ≤ ~1e34 at n = 1e11,
    * under both the 38-digit cap and hugeint); the 6-decimal rounding is
    * an exact integer half-away division; the emitted double cov6/1e6 is
    * one correctly-rounded IEEE division of exact small integers — no
    * libm, no decimal↔double string round-trip, no round(double, s)
    * anywhere.
    */
  def covarianceMatrix(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spread = OpContract.requireCols(e, "SimilarityOps.covarianceMatrix",
        "vec_id", "embedding")
      .repartition(e.sparkSession.sparkContext.defaultParallelism)
    def quant(c: Column) =
      round(c.cast("double") * lit(1e6), 0).cast("long")
    val xij = spread
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("i"), quant(col("xi")).as("qi"),
        posexplode(slice(col("embedding"), col("i") + 1,
            size(col("embedding")) - col("i")))
          .as(Seq("jo", "xj")))
      .select(col("i"), (col("i") + col("jo")).as("j"),
        col("qi"), quant(col("xj")).as("qj"))
    xij.groupBy("i", "j")
      .agg(
        sum((col("qi") * col("qj")).cast(DecimalType(38, 0))).as("sxy"),
        sum(col("qi").cast(DecimalType(38, 0))).as("si"),
        sum(col("qj").cast(DecimalType(38, 0))).as("sj"),
        count(lit(1)).cast(DecimalType(38, 0)).as("n"))
      // cov·1e6 = (n·Σqq − Σq_i·Σq_j) / (n²·1e6): exact integer
      // numerator/denominator, rounded half-away-from-zero by integer div
      .withColumn("num", col("n") * col("sxy") - col("si") * col("sj"))
      .withColumn("den", col("n") * col("n") * lit(1000000L).cast(DecimalType(38, 0)))
      .withColumn("cov6",
        when(col("num") >= 0, expr("(2 * num + den) div (2 * den)"))
          .otherwise(-expr("(-2 * num + den) div (2 * den)")))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("cov6").cast("double") / lit(1e6)).as("cov"))
  }

  /** Top-k PCA components of the embedding distribution, trained by
    * orthogonal (power) iteration on the [[covarianceMatrix]] model —
    * the d×d matrix is MODEL STATE (a 2080-cell collect for d = 64, same
    * class as [[trainCentroids]]' k-row collect), so the eigensolve is a
    * driver-side double loop, not a distributed job. Deterministic by
    * construction: fixed uniform init, fixed iteration count, explicit
    * deflation, Gram–Schmidt re-orthogonalization every step, and a sign
    * convention (largest-|coordinate| positive) so equal inputs give
    * bit-equal components on any executor count. Returns
    * (eigenvalue, component) pairs, eigenvalues descending.
    */
  def pcaComponents(e: DataFrame, k: Int = 4,
      iters: Int = 200): Seq[(Double, Array[Double])] = {
    val cells = covarianceMatrix(e).collect()
    val d = cells.iterator.map(_.getLong(1).toInt).max + 1
    val c = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j, v) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      c(i)(j) = v; c(j)(i) = v
    }
    def matVec(m: Array[Array[Double]], v: Array[Double]) =
      Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
    def dot(a: Array[Double], b: Array[Double]) =
      (0 until d).map(i => a(i) * b(i)).sum
    val comps = scala.collection.mutable.ArrayBuffer.empty[(Double, Array[Double])]
    for (_ <- 0 until math.min(k, d)) {
      var v = Array.fill(d)(1.0 / math.sqrt(d))
      for (_ <- 0 until iters) {
        var w = matVec(c, v)
        comps.foreach { case (_, p) =>
          val pw = dot(p, w)
          w = Array.tabulate(d)(i => w(i) - pw * p(i))
        }
        val n = math.sqrt(dot(w, w))
        v = if (n == 0) v else w.map(_ / n)
      }
      val lambda = dot(v, matVec(c, v))
      val flip = if (v(v.indices.maxBy(i => math.abs(v(i)))) < 0) -1.0 else 1.0
      comps += ((lambda, v.map(_ * flip)))
    }
    comps.toSeq
  }

  /** Project the corpus onto its top-k PCA components: mean-center (the
    * [[normalizeEmbeddings]] decimal-mean pattern), then one codegen'd
    * dot product per component against driver-literal weight arrays —
    * pure projection, NO shuffle, exactly the [[randomProjection]] plan
    * shape but with LEARNED axes. The standard embedding-compression /
    * whitening front-end: at 100 TB the model is trained once (one
    * covariance scan + a 64×64 eigensolve) and the projection streams.
    * Output: input rows with `pc` = k rounded component scores.
    */
  def pcaProject(e: DataFrame, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val comps = pcaComponents(e, k)
    val meansRows = e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg((sum(col("x").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1))).as("m"))
      .collect()
    val means = new Array[Double](meansRows.length)
    meansRows.foreach(r => means(r.getInt(0)) = r.getDouble(1))
    val cent = zip_with(col("embedding"), typedLit(means),
      (x, m) => x.cast("double") - m)
    val scores = array(comps.map { case (_, v) =>
      round(graft.functions.VectorFunctions.dot_product(cent, typedLit(v)), 6)
    }: _*)
    e.withColumn("pc", scores)
  }
}
