package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`). North-star extension (SURVEY §0).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the query set,
  *    one scan of the corpus, per-query `row_number` top-k. The baseline
  *    and the verifier. All math is `zip_with`/`aggregate` expressions in
  *    double precision — codegen'd, no UDFs.
  *  - [[lshTopK]] — random-hyperplane LSH: h sign-bits → bucket, probe
  *    same-bucket candidates only, exact rerank inside the bucket. The
  *    100 TB path: corpus is bucketed once (write-time layout at scale),
  *    each query touches ~1/2^h of the data.
  *
  * Embedding-cosine near-duplicate detection ([[cosineDupPairs]]) rides
  * the same LSH machinery.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (deterministic:
    * fixed evaluation order → reproducible across runs and engines).
    * HOF form — the portable fallback; the hot paths below use the
    * codegen'd [[graft.functions.DotProduct]] kernel instead. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fused single-pass native cosine (same fold order → same doubles). */
  private def nativeCosine(df: DataFrame, a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine(df.sparkSession, a, b)

  /** Per-row vector norm `sqrt(v·v)` via the dot kernel — accumulates
    * squares in the same ascending order as [[nativeCosine]]'s norm
    * fold, so `dot/(nrm_a*nrm_b)` is BIT-IDENTICAL to the fused cosine
    * (same doubles, same null-on-zero-norm) while the O(dim) norm
    * reduction runs once per ROW instead of once per PAIR — 3× fewer
    * FLOPs in every bucketed self-join. */
  private def nativeNorm(df: DataFrame, v: Column): Column =
    sqrt(graft.functions.GraftFunctions.dot(df.sparkSession, v, v))

  /** Pair cosine from a precomputed dot and per-side norms (see
    * [[nativeNorm]]): replicates the fused kernel's null-on-zero-norm
    * contract (a null vector nulls the dot, which nulls the division). */
  private def pairSim(dot: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(null).cast("double"))
      .otherwise(dot / (na * nb))

  /** Per-query top-k over scored `(q_id, n_id, sim)` rows via the
    * bounded-heap aggregate ([[graft.functions.TopKAgg]]): map-side
    * partials cut the shuffle to k·|queries| rows — a `row_number`
    * window here would shuffle AND sort every scored row. Emits
    * `(q_id, rank, n_id, sim)`, rank 1 = best, ties toward smaller id.
    *
    * Id-type contract: integral neighbor ids ride the bounded-heap
    * aggregate (cast long, cast back on output); any other id type
    * (string, decimal, …) falls back to the `row_number` window — correct
    * but sort-shuffling every scored row, so prefer integral ids at
    * scale. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = scored.schema("n_id").dataType
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        scored.groupBy(col("q_id"))
          .agg(graft.functions.TopKAgg.topk(scored.sparkSession,
            col("sim"), col("n_id").cast("long"), k).alias("__top"))
          .select(col("q_id"), posexplode(col("__top")))
          .select(col("q_id"), (col("pos") + 1).alias("rank"),
            col("col.id").cast(idType).alias("n_id"),
            round(col("col.score"), 4).alias("sim"))
      case _ =>
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("n_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("q_id"), col("rank"), col("n_id"),
            round(col("sim"), 4).alias("sim"))
    }
  }

  /** Exact cosine top-k: for each row of `queries`, the `k` nearest
    * corpus rows. `queries` is broadcast (it is the small side by
    * construction); the corpus is scanned once and reduced map-side by
    * the bounded-heap top-k aggregate. Ties broken by corpus id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val q = broadcast(queries.select(col(idCol).alias("q_id"),
      col(vecCol).alias("q_vec")))
    val c = corpus.select(col(idCol).alias("n_id"), col(vecCol).alias("n_vec"))
    val scored = c.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", nativeCosine(corpus, col("q_vec"), col("n_vec")))
    topKPerQuery(scored, k)
  }

  /** Random-hyperplane signature: `h` sign bits packed into a long.
    * Hyperplanes are generated from a fixed seed — data-independent,
    * identical on every executor, never shipped as data. */
  def hyperplanes(dim: Int, h: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(h, dim)(rnd.nextGaussian())
  }

  /** Packed sign-bit signature — the fused native kernel
    * ([[graft.functions.HyperplaneSig]]; bit-identical to the
    * per-plane `aggregate(zip_with(...))` fold the oracle replays, at a
    * fraction of the cost: one codegen'd loop instead of h interpreted
    * lambda folds per row). */
  private def signature(df: DataFrame, vec: Column,
                        planes: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.hyperplaneSig(df.sparkSession, vec, planes)

  /** LSH-bucketed approximate top-k: candidates = corpus rows whose
    * signature differs from the query signature in ≤ `probeHamming` bits
    * (0 = same bucket only), exact cosine rerank within candidates.
    * Recall < 1 by design; raise `probeHamming` or lower `h` to trade
    * speed for recall. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              h: Int = 12, probeHamming: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val planes = hyperplanes(dim, h)
    val c = corpus.select(col(idCol).alias("n_id"), col(vecCol).alias("n_vec"),
      signature(corpus, col(vecCol), planes).alias("n_sig"))
    val q = broadcast(queries.select(col(idCol).alias("q_id"),
      col(vecCol).alias("q_vec"), signature(queries, col(vecCol), planes).alias("q_sig")))
    val cand = c.join(q,
      bit_count(col("n_sig").bitwiseXOR(col("q_sig"))) <= probeHamming &&
      col("n_id") =!= col("q_id"))
    topKPerQuery(
      cand.withColumn("sim", nativeCosine(corpus, col("q_vec"), col("n_vec"))), k)
  }

  /** IVF (inverted-file) approximate top-k — the second scale path the
    * spec names alongside LSH. Coarse quantizer = `nCentroids` corpus
    * vectors picked by deterministic stride (no k-means dependency; at
    * cluster scale swap in trained centroids without changing the plan
    * shape). Every corpus vector is assigned to its nearest centroid
    * (broadcast centroid table, one scan); a query probes the `nprobe`
    * nearest centroid cells and reranks exactly inside them — touching
    * ~nprobe/nCentroids of the corpus instead of all of it. */
  /** The ONE deterministic centroid draw shared by [[ivfTopK]],
    * [[semanticDupPairs]] and the incremental semantic builder: a
    * TakeOrdered pass by seeded id-hash (no global sort, no driver
    * materialization), broadcast-ready. Callers that persist the draw
    * (the incremental index) replay the exact same cells the batch
    * plane computes. */
  /** Auto quantizer size: one cell per `targetCellSize` docs, never 0. */
  private[graft] def autoCentroids(total: Long, targetCellSize: Int): Int =
    math.max(1L, (total + math.max(1, targetCellSize) - 1) /
      math.max(1, targetCellSize)).min(Int.MaxValue.toLong).toInt

  private[graft] def centroidDraw(corpus: DataFrame, nCentroids: Int,
                                  idCol: String, vecCol: String,
                                  family: String = "xxh64"): DataFrame = {
    val centOrder = graft.ext.Dedup.seededHash(family, 0, col(idCol).cast("string"))
    broadcast(
      corpus.orderBy(centOrder.asc, col(idCol).asc).limit(nCentroids)
        .select(col(idCol).alias("c_id"), col(vecCol).alias("c_vec")))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              family: String = "xxh64", trainIters: Int = 0)
      : DataFrame = {
    val cents =
      if (trainIters <= 0) centroidDraw(corpus, nCentroids, idCol, vecCol, family)
      else trainCentroids(corpus, nCentroids, trainIters, idCol, vecCol, family)
    val cells = assignToCells(corpus, cents, idCol, vecCol, keep = 1)
      .select(col("__rid").alias("n_id"), col("__rvec").alias("n_vec"), col("cell"))
    val probes = assignToCells(queries, cents, idCol, vecCol, keep = nprobe)
      .select(col("__rid").alias("q_id"), col("__rvec").alias("q_vec"), col("cell"))
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", nativeCosine(corpus, col("q_vec"), col("n_vec")))
    topKPerQuery(scored, k)
  }

  /** IVF-PQ — the composed production ANN shape (the FAISS `IVFx,PQy`
    * index, Jégou et al. 2011 §V): a coarse quantizer routes each
    * corpus vector to a cell AND compresses it to an m-byte PQ code in
    * the same scan, so the serving table is `(cell, n_id, code)` — a
    * few bytes per vector, clusterable by cell for partition pruning.
    * A query probes its `nprobe` nearest cells and ADC-scores ONLY the
    * codes inside them: the touched fraction is ~nprobe/nCentroids of
    * an already-64×-compressed corpus, the scan reads no float vectors
    * at all, and each pair costs O(m) adds. Both approximations are
    * recall-bound, not correctness-bound — exactness claims stay with
    * [[bruteForceTopK]]. Coarse cells use the same deterministic draw
    * (or Lloyd training) as [[ivfTopK]]; codebooks train on the corpus
    * via [[trainPq]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 256, iters: Int = 3,
                idCol: String = "vec_id", vecCol: String = "embedding",
                family: String = "xxh64", trainIters: Int = 0)
      : DataFrame = {
    val s = corpus.sparkSession
    // untrained coarse cells: ONE TakeOrdered draw feeds BOTH quantizers
    // (the seeded-hash order is total, so draw(n) is a prefix of
    // draw(max(n, ksub))) — the old shape ran the same corpus-scan draw
    // once for the cells and again inside trainPq. The collected rows
    // rebuild the centroid table as a LocalRelation (float→double is
    // exact; the assignment kernels convert to double either way), so
    // cell assignment collects no second draw job either.
    val (cents, books) =
      if (trainIters <= 0) {
        val draw = centroidDraw(corpus, math.max(nCentroids, ksub),
          idCol, vecCol, family).collect() // ≤ max(nCentroids, ksub) rows by contract
        require(draw.nonEmpty, "ivfPqTopK requires a non-empty corpus")
        def toD(v: Seq[Any]): Array[Double] = v.map {
          case null => 0.0
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }.toArray
        import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("c_id", corpus.schema(idCol).dataType),
          StructField("c_vec", ArrayType(DoubleType))))
        val centRows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(draw.take(nCentroids).map(r =>
            org.apache.spark.sql.Row(r.get(0), toD(r.getSeq[Any](1)).toSeq)): _*)
        (broadcast(s.createDataFrame(centRows, schema)),
          trainPqFromSeeds(corpus, draw.take(ksub).map(r => toD(r.getSeq[Any](1))),
            m, ksub, iters, vecCol))
      } else
        (trainCentroids(corpus, nCentroids, trainIters, idCol, vecCol, family),
          trainPq(corpus, m, ksub, iters, idCol, vecCol, family))
    // one corpus scan: cell assignment (argmax kernel) + PQ encode
    // (codes kernel) — the float vector is dropped right here; at
    // cluster scale this projection writes the serving table, bucketed
    // by cell
    val cells = assignToCells(corpus, cents, idCol, vecCol, keep = 1)
      .select(col("__rid").alias("n_id"), col("cell"),
        graft.functions.GraftFunctions.pqEncode(s, col("__rvec"), books).alias("__code"))
    val probes = assignToCells(queries, cents, idCol, vecCol, keep = nprobe)
      .select(col("__rid").alias("q_id"), col("cell"),
        graft.functions.GraftFunctions.pqLut(s, col("__rvec"), books).alias("__lut"))
      .filter(col("__lut").isNotNull)
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", graft.functions.GraftFunctions.pqAdc(
        s, col("__lut"), col("__code"), pqNormLut(books)))
      .filter(col("sim").isNotNull)
      .select(col("q_id"), col("n_id"), col("sim"))
    topKPerQuery(scored, k)
  }

  /** IVF-PQ serving from a PERSISTED code table — the query half of the
    * incremental ANN plane ([[graft.builder.AnnIndexBuilder]]): `codes`
    * is the stored `(id, cell, code: binary)` table (m bytes per corpus
    * vector, cell-clustered on disk), `books`/`cents` the persisted
    * quantizer. Probe cells are collected from the (broadcast-small by
    * contract) query side — ≤ nCentroids distinct values — and pushed
    * as a static IN-predicate so a cell-clustered parquet layout prunes
    * row groups BEFORE the scan; the scan itself reads no float arrays
    * at all. Same surface contract as [[ivfPqTopK]] (self-matches
    * excluded, ties toward smaller id, bounded-heap top-k). */
  def ivfPqTopKFromCodes(codes: DataFrame, queries: DataFrame, k: Int,
                         books: Array[Array[Array[Double]]], cents: DataFrame,
                         nprobe: Int = 4,
                         idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val s = codes.sparkSession
    val probePlan = assignToCells(queries, broadcast(cents), idCol, vecCol,
        keep = nprobe)
      .select(col("__rid").alias("q_id"), col("cell"),
        graft.functions.GraftFunctions.pqLut(s, col("__rvec"), books).alias("__lut"))
      .filter(col("__lut").isNotNull)
    // ≤ queries × nprobe rows by the broadcast-small query contract:
    // collect ONCE and re-plan as a local relation. (A localCheckpoint
    // here would leak executor blocks on every call of a long-lived
    // serving process — there is no post-action hook to unpersist from
    // a lazily-returned DataFrame.) The probe-cell set falls out of the
    // same collect driver-side, saving a distinct job.
    val probeRows = probePlan.collect()
    val probes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probePlan.schema)
    val probeCells = probeRows.map(_.get(1)).distinct.toSeq
    val scored = codes
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id").alias("n_id"), col("cell"), col("code").alias("__code"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", graft.functions.GraftFunctions.pqAdc(
        s, col("__lut"), col("__code"), pqNormLut(books)))
      .filter(col("sim").isNotNull)
      .select(col("q_id"), col("n_id"), col("sim"))
    topKPerQuery(scored, k)
  }

  /** Lloyd-trained coarse quantizer: `iters` fixed rounds of
    * assign-to-nearest + per-cell mean, seeded from the SAME
    * deterministic draw [[ivfTopK]]/[[semanticDupPairs]] use untrained —
    * a fixed iteration count and a deterministic init, so repeat builds
    * converge to the same cells up to floating-point aggregation order
    * (cross-engine byte-replay is NOT claimed: a distributed mean is
    * order-sensitive in the last ulp, which is why the ORACLE-verified
    * queries keep the untrained draw and training is spec-verified on
    * recall instead).
    *
    * Scale shape per round: assignment is the inlined-argmax PROJECTION
    * of [[assignToCells]] (zero corpus-side shuffles); the update is ONE
    * narrow aggregation — vectors explode to `(cell, pos, v)` and
    * partial sums collapse map-side, so the shuffle carries
    * nCentroids×dim rows regardless of corpus size. Cells emptied by a
    * round keep their previous centroid (the standard dead-centroid
    * guard). Returns a broadcast-ready `(c_id, c_vec)` frame with the
    * draw's original `c_id`s. */
  def trainCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     family: String = "xxh64"): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    def toDoubles(v: Seq[Any]): Seq[Double] = v.map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }
    // the centroid table lives on the DRIVER between rounds (nCentroids
    // rows BY CONTRACT): each round's means are collected and the next
    // round's table rebuilt as a fresh local relation, so round i costs
    // exactly ONE corpus aggregation — an unmaterialized join chain here
    // would re-execute every earlier round inside assignToCells' collect
    // (O(iters²)) and again per downstream consumer of the result
    var cents: Map[Long, Seq[Double]] =
      centroidDraw(corpus, nCentroids, idCol, vecCol, family).collect()
        .map(r => r.getAs[Number]("c_id").longValue() -> toDoubles(r.getSeq[Any](1)))
        .toMap
    def centsDf = broadcast(cents.toSeq.sortBy(_._1).toDF("c_id", "c_vec"))
    for (_ <- 1 to iters) {
      val means = assignToCells(corpus, centsDf, idCol, vecCol, keep = 1)
        .select(col("cell"), posexplode(col("__rvec")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col").cast("double")).alias("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).alias("c_new"))
        .collect() // ≤ nCentroids rows
      // cells emptied by the round keep their previous centroid (the
      // standard dead-centroid guard): the map update only overwrites
      // cells that produced a mean
      cents = cents ++ means.map(r =>
        r.getAs[Number]("cell").longValue() -> toDoubles(r.getSeq[Any](1)))
    }
    centsDf
  }

  /** Nearest-centroid assignment. Three strategies by shape:
    *
    * `keep = 1`, nCentroids ≤ 256 (the corpus side — every vector, the
    * scale-critical path): the centroid table is tiny BY CONTRACT, so
    * collect it and inline the vectors as literals — per-row argmax
    * becomes `greatest` over `(sim, -c_id)` structs (ties toward the
    * smallest c_id), a pure codegen'd PROJECTION. Zero joins, zero
    * shuffles, zero sorts on the corpus-wide path; the old `row_number`
    * window here sort-shuffled nCentroids× the corpus width.
    *
    * `keep = 1`, larger centroid tables: `max_by` hash aggregate over
    * the broadcast fan-out — map-side partials collapse the
    * nCentroids-way fan-out before the (narrow) shuffle; no sort in the
    * plan (struct-valued buffers aggregate via ObjectHashAggregate —
    * raise `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * for very high corpus cardinality).
    *
    * `keep > 1` (the query side only — broadcast-sized by construction)
    * and non-numeric centroid ids (where the inline argmax's `-c_id`
    * tie-break can't apply): the tiny top-n window. */
  private[graft] def assignToCells(df: DataFrame, cents: DataFrame,
                                   id: String, vec: String, keep: Int): DataFrame = {
    val numericCid = cents.schema("c_id").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (keep == 1 && numericCid) {
      val cl = cents.select(col("c_id"), col("c_vec")).collect() // ≤ nCentroids rows by contract
      val base = df.select(col(id).alias("__rid"), col(vec).alias("__rvec"))
      if (cl.length <= 4096) {
        // one compiled argmax loop over the centroid-matrix literal
        // ([[graft.functions.NearestCell]]) — the former k-way
        // greatest(struct(cosine, -id)) tower blew the JVM method limit
        // past a few dozen centroids and dropped to interpreted eval
        // (0.77 s -> 10.8 s from k=16 to k=78 on 20k vectors); the
        // kernel holds the same argmax bit-identically at any literal-
        // carryable k. ~4 MB matrix at k=4096 x dim 128; larger
        // quantizers take the broadcast cross-join below.
        def toD(v: Any): Double = v match {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }
        val cVecs = cl.map(_.getSeq[Any](1).map(toD).toArray)
        val cIds = cl.map(_.getAs[Number]("c_id").longValue())
        base.withColumn("cell", graft.functions.GraftFunctions.nearestCell(
          df.sparkSession, col("__rvec"), cVecs, cIds))
          .select(col("__rid"), col("__rvec"), col("cell"))
      } else {
        base.crossJoin(broadcast(cents))
          .withColumn("__csim", nativeCosine(df, col("__rvec"), col("c_vec")))
          .groupBy(col("__rid"))
          .agg(max_by(col("c_id"),
            struct(col("__csim"), (-col("c_id")).alias("__negid"))).alias("cell"),
            first(col("__rvec")).alias("__rvec"))
          .select(col("__rid"), col("__rvec"), col("cell"))
      }
    } else {
      val scored = df.select(col(id).alias("__rid"), col(vec).alias("__rvec"))
        .crossJoin(broadcast(cents))
        .withColumn("__csim", nativeCosine(df, col("__rvec"), col("c_vec")))
      val w = Window.partitionBy(col("__rid"))
        .orderBy(col("__csim").desc, col("c_id").asc)
      scored.withColumn("__crank", row_number().over(w))
        .filter(col("__crank") <= keep)
        .select(col("__rid"), col("__rvec"), col("c_id").alias("cell"))
    }
  }

  /** Symmetric per-vector int8 quantization — a genuine 4× storage/scan
    * reduction for embedding columns at corpus scale (codes are
    * `array<tinyint>`). `scale = 127 / max|x|`; elements quantize as
    * `floor(x·scale + 0.5)` (floor-based so any engine replays the exact
    * integers — no round-half ambiguity). Appends `qCol` (codes) and
    * `{qCol}_scale` to `df`.
    *
    * DataFrame-level on purpose: the scale must live in its OWN
    * projection so the quantize lambda references it as a bound
    * attribute — inlining `array_max(...)` into the per-element lambda
    * would re-reduce the whole vector for every element (O(d²); the
    * repo's documented HOF-inlining trap). The scale column stays in the
    * output, which also keeps CollapseProject from re-inlining it. */
  def quantizeI8(df: DataFrame, vecCol: String, qCol: String = "q"): DataFrame = {
    val scaleCol = s"${qCol}_scale"
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.withColumn(scaleCol, when(mx > 0, lit(127.0) / mx).otherwise(lit(1.0)))
      .withColumn(qCol, transform(col(vecCol),
        x => floor(x.cast("double") * col(scaleCol) + 0.5).cast("byte")))
  }

  /** Inverse of [[quantizeI8]]: `q / scale` as a double vector. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, c => c.cast("double") / scale)

  // ------------------------------------------------------------------ PQ

  /** Product-quantization codebooks (Jégou/Douze/Schmid, TPAMI 2011):
    * the vector splits into `m` contiguous subspaces of `ceil(dim/m)`
    * dims; each subspace gets its own `ksub`-centroid k-means codebook.
    * A vector then stores as `m` BYTES ([[graft.functions.PqEncode]]) —
    * at 100 TB this is what makes embedding search feasible: the ANN
    * scan reads m bytes instead of 4·dim per vector (64× at dim=128,
    * m=8) and scores in O(m) table adds instead of O(dim) multiplies.
    *
    * Training mirrors [[trainCentroids]]'s scale shape, for ALL m
    * codebooks at once: init = the deterministic [[centroidDraw]] of
    * `ksub` corpus vectors sliced into subspaces; each round is ONE
    * corpus pass (the encode KERNEL assigns all m codes per row in a
    * projection — no joins) followed by one narrow aggregation whose
    * shuffle carries ≤ m·ksub·dsub rows regardless of corpus size,
    * collected driver-side (≤ 256 KB at m=8, ksub=256, dsub=16 — by
    * contract). Cells emptied by a round keep their previous centroid.
    * Deterministic up to distributed-mean float ordering, like
    * [[trainCentroids]] — recall is spec-verified, byte replay is not
    * claimed. */
  def trainPq(corpus: DataFrame, m: Int, ksub: Int = 256, iters: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding",
              family: String = "xxh64"): Array[Array[Array[Double]]] = {
    val draw = centroidDraw(corpus, ksub, idCol, vecCol, family).collect() // ≤ ksub rows by contract
    require(draw.nonEmpty, "trainPq requires a non-empty corpus")
    def toD(v: Seq[Any]): Array[Double] = v.map {
      case null => 0.0
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray
    trainPqFromSeeds(corpus, draw.map(r => toD(r.getSeq[Any](1))),
      m, ksub, iters, vecCol)
  }

  /** [[trainPq]] over pre-collected seed vectors (lets callers that
    * already ran the deterministic draw — [[ivfPqTopK]] — skip the
    * second TakeOrdered corpus pass). */
  private[graft] def trainPqFromSeeds(corpus: DataFrame,
      seeds: Array[Array[Double]], m: Int, ksub: Int, iters: Int,
      vecCol: String): Array[Array[Array[Double]]] = {
    require(m > 0, s"m must be positive, got $m")
    require(ksub > 0 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    require(seeds.nonEmpty, "trainPq requires non-empty seeds")
    val s = corpus.sparkSession
    val dim = seeds.map(_.length).max
    val dsub = (dim + m - 1) / m
    // ragged tails pad with 0.0 — the encode kernel reads past-end dims
    // as 0.0, so padded codebook dims are exact, not approximate
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      seeds.map { v =>
        Array.tabulate(dsub)(t => if (j * dsub + t < v.length) v(j * dsub + t) else 0.0)
      }
    }
    for (_ <- 1 to iters) {
      val codes = graft.functions.GraftFunctions.pqEncode(
        s, col(vecCol), books, asInts = true)
      val means = corpus
        .select(col(vecCol).alias("__v"), codes.alias("__codes"))
        .select(posexplode(col("__v")).as(Seq("pos", "val")), col("__codes"))
        // dim derives from the SAMPLED seeds' max length — a corpus
        // vector longer than every seed would index past the m codes
        // (ANSI element_at error); over-length dims carry no codebook
        // and are ignored, matching the encode kernel's span
        .filter(col("pos") < m * dsub)
        .select((col("pos") / dsub).cast("int").alias("j"),
          element_at(col("__codes"), (col("pos") / dsub).cast("int") + 1).alias("c"),
          (col("pos") % dsub).alias("sp"), col("val").cast("double").alias("x"))
        .groupBy(col("j"), col("c"), col("sp"))
        .agg(avg(col("x")).alias("mean"))
        .collect() // ≤ m·ksub·dsub rows by contract
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        val j = r.getAs[Number](0).intValue(); val c = r.getAs[Number](1).intValue()
        val sp = r.getAs[Number](2).intValue()
        if (!r.isNullAt(3)) next(j)(c)(sp) = r.getDouble(3)
      }
      books = next
    }
    books
  }

  /** Flat per-centroid reconstructed-norm² table for [[pqTopKWithBooks]]:
    * entry `j*ksub + c` = ‖books[j][c]‖². */
  private def pqNormLut(books: Array[Array[Array[Double]]]): Array[Double] = {
    val ksub = books.map(_.length).max
    val out = new Array[Double](books.length * ksub)
    for (j <- books.indices; c <- books(j).indices)
      out(j * ksub + c) = books(j)(c).map(x => x * x).sum
    out
  }

  /** PQ approximate cosine top-k — the memory-bound scale path next to
    * [[lshTopK]] (recall-bound) and [[ivfTopK]] (probe-bound): corpus
    * vectors compress to m-byte codes in one kernel projection, each
    * query builds its O(ksub·dim) ADC lookup table ONCE
    * ([[graft.functions.PqLut]]), and scoring the whole corpus is O(m)
    * adds per pair against the code bytes ([[graft.functions.PqAdc]]).
    * Same surface contract as [[bruteForceTopK]] (self-matches
    * excluded, ties toward smaller id, bounded-heap reduction — k·|Q|
    * rows cross the shuffle, never the scored corpus). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 256, iters: Int = 3,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopKWithBooks(corpus, queries, k,
      trainPq(corpus, m, ksub, iters, idCol, vecCol), idCol, vecCol)

  /** [[pqTopK]] over pre-trained codebooks (the production shape: train
    * once on a sample, encode/serve many batches). */
  def pqTopKWithBooks(corpus: DataFrame, queries: DataFrame, k: Int,
                      books: Array[Array[Array[Double]]],
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val s = corpus.sparkSession
    val codes = corpus.select(col(idCol).alias("n_id"),
      graft.functions.GraftFunctions.pqEncode(s, col(vecCol), books).alias("__code"))
    val ql = broadcast(queries.select(col(idCol).alias("q_id"),
      graft.functions.GraftFunctions.pqLut(s, col(vecCol), books).alias("__lut"))
      .filter(col("__lut").isNotNull))
    val scored = codes.crossJoin(ql)
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", graft.functions.GraftFunctions.pqAdc(
        s, col("__lut"), col("__code"), pqNormLut(books)))
      .filter(col("sim").isNotNull)
      .select(col("q_id"), col("n_id"), col("sim"))
    topKPerQuery(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs: LSH same-bucket candidates,
    * verified `cosine >= threshold`. Returns `(a, b, sim)`, a < b.
    *
    * `maxBucketSize` is the hot-bucket skew guard: signature buckets are
    * bounded in number (2^h), so at corpus scale a degenerate bucket
    * (e.g. near-zero embeddings all hashing alike) grows linearly and
    * its self-join quadratically. Same hash-agg + broadcast anti-join
    * pattern as [[Dedup.minhashLsh]] — no sort-window.
    *
    * @param maxBucketSize RECALL CAVEAT: with `overCap = "drop"` (the
    *   default) buckets above the cap contribute NO pairs — a duplicate
    *   cluster larger than the cap silently loses its most-duplicated
    *   members. `overCap = "star"` pairs the bucket's min-id
    *   representative with every member instead (O(bucket)); only members
    *   whose cosine to the representative clears `threshold` survive the
    *   verification, so a drifted member near a neighbor but not the
    *   representative is still lost — the linear-cost trade-off. */
  def cosineDupPairs(corpus: DataFrame, dim: Int, threshold: Double = 0.95,
                     h: Int = 12, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxBucketSize: Int = 10000,
                     overCap: String = "drop"): DataFrame = {
    require(overCap == "drop" || overCap == "star",
      s"overCap must be 'drop' or 'star', got '$overCap'")
    val planes = hyperplanes(dim, h)
    val sigs = corpus.select(col(idCol).alias("id"), col(vecCol).alias("vec"),
      signature(corpus, col(vecCol), planes).alias("sig"))
    // same one-shuffle cap shape as [[cellDupPairs]]: bucket count over
    // the sig partition window; the join sides reuse that exchange
    val wB = Window.partitionBy(col("sig"))
    val counted = sigs
      .withColumn("nrm", nativeNorm(corpus, col("vec")))
      .withColumn("__bn", count(lit(1)).over(wB))
    val capped = counted.filter(col("__bn") <= maxBucketSize).drop("__bn")
    val a = capped.select(col("sig"), col("id").alias("a"),
      col("vec").alias("va"), col("nrm").alias("na"))
    val b = capped.select(col("sig"), col("id").alias("b"),
      col("vec").alias("vb"), col("nrm").alias("nb"))
    val pairs = a.join(b, Seq("sig")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("va"), col("vb"), col("na"), col("nb"))
    val all =
      if (overCap == "drop") pairs
      else {
        val overs = counted.filter(col("__bn") > maxBucketSize).drop("__bn")
        val reps = overs.groupBy(col("sig"))
          .agg(min_by(struct(col("id"), col("vec"), col("nrm")), col("id")).alias("__r"))
          .select(col("sig"), col("__r.id").alias("a"),
            col("__r.vec").alias("va"), col("__r.nrm").alias("na"))
        val star = overs.join(broadcast(reps), Seq("sig"))
          .filter(col("id") =!= col("a"))
          .select(col("a"), col("id").alias("b"), col("va"),
            col("vec").alias("vb"), col("na"), col("nrm").alias("nb"))
        pairs.unionByName(star)
      }
    // no pair dedup needed: each doc lives in exactly one signature
    // bucket, and over-cap buckets are disjoint from capped ones
    all
      .withColumn("sim", pairSim(
        graft.functions.GraftFunctions.dot(corpus.sparkSession,
          col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).alias("sim"))
  }

  /** SemDeDup-style semantic near-dup pairs: partition the corpus into
    * `nCentroids` cells by nearest centroid, then compare pairs only
    * WITHIN a cell — the clustering prunes the O(n²) comparison space to
    * O(n²/k) while keeping semantically-close pairs co-located (SemDeDup,
    * Abbas et al. 2023). Centroids come from the same deterministic
    * seeded-hash draw as [[ivfTopK]], so `family = "md5"` makes the whole
    * pipeline — draw, assignment, pairing — replayable by an external
    * oracle; at cluster scale swap in k-means centroids without changing
    * the plan shape.
    *
    * Scale shape: centroid assignment is the inlined-argmax PROJECTION of
    * [[assignToCells]] (zero shuffles on the corpus side); the self-join
    * shuffles the corpus by cell once per side. Cell populations are
    * ~n/k with data-dependent skew — size `nCentroids` so cells fit the
    * quadratic verify (SemDeDup runs k ≈ 10⁴-10⁵ at web scale); pair
    * survivors are `cosine ≥ threshold`, returned as `(a, b, sim)`.
    *
    * `maxCellSize`/`overCap` is the same hot-partition skew guard
    * [[cosineDupPairs]] carries: a degenerate cell (embedding collapse,
    * zero vectors, boilerplate) otherwise makes the within-cell self-join
    * quadratic. `overCap = "drop"` excludes over-cap cells from pairing;
    * `"star"` pairs each over-cap cell's min-id representative with every
    * member (O(cell) pairs), with the same recall caveat documented on
    * [[cosineDupPairs]].
    *
    * `nCentroids = 0` is AUTO mode: `k = ceil(N / targetCellSize)`. A
    * FIXED k makes within-cell work quadratic in corpus size (cells hold
    * ~N/k members and the self-join pays (N/k)² per cell — measured 8.3×
    * oracle ratio at 3× data with k=16), so at scale k must grow with N;
    * auto mode costs one `count()` job and keeps expected cell
    * population — and thus per-cell join cost — constant as the corpus
    * grows. The explicit-k form stays for oracle-replayable queries
    * (the external oracle can't run the count). */
  def semanticDupPairs(corpus: DataFrame, nCentroids: Int = 16,
                       threshold: Double = 0.95,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       family: String = "xxh64",
                       maxCellSize: Int = 10000,
                       overCap: String = "drop",
                       trainIters: Int = 0,
                       targetCellSize: Int = 256): DataFrame = {
    require(nCentroids >= 0, s"nCentroids must be >= 0 (0 = auto), got $nCentroids")
    val k =
      if (nCentroids > 0) nCentroids
      else autoCentroids(corpus.count(), targetCellSize)
    val cents =
      if (trainIters <= 0) centroidDraw(corpus, k, idCol, vecCol, family)
      else trainCentroids(corpus, k, trainIters, idCol, vecCol, family)
    val cells = assignToCells(corpus, cents, idCol, vecCol, keep = 1)
      .select(col("cell"), col("__rid").alias("id"), col("__rvec").alias("vec"))
    cellDupPairs(cells, threshold, maxCellSize, overCap)
  }

  /** Within-cell near-dup pairs with the hot-cell guard, over a
    * pre-assigned `(cell, id, vec)` frame — the tail of
    * [[semanticDupPairs]]. Under-cap cells self-join (`a < b`); over-cap
    * cells contribute nothing (`overCap = "drop"`) or a min-id star
    * (`"star"`). Survivors are `cosine ≥ threshold`, returned as
    * `(a, b, sim)`. DedupBuilder's repair pass pairs a component's
    * remnant through it. The incremental round
    * (`DedupBuilder.runSemanticIndexed`) deliberately does NOT: its
    * pairing must exclude old×old comparisons and orient old→new, so it
    * mirrors the cap/star shape inline — keep `runSemanticIndexed` in
    * sync when changing cap or star semantics. */
  private[graft] def cellDupPairs(cells: DataFrame, threshold: Double,
                                  maxCellSize: Int, overCap: String): DataFrame = {
    require(overCap == "drop" || overCap == "star",
      s"overCap must be 'drop' or 'star', got '$overCap'")
    // The cap rides a count window OVER THE CELL PARTITION, not a
    // separate groupBy + broadcast anti-join: the window's exchange
    // (hashpartitioning(cell)) is exactly the partitioning the self-join
    // needs, and both join sides are the identical filtered frame, so
    // ReuseExchange computes the corpus shuffle ONCE — versus the old
    // shape's tiny-agg job plus two full corpus shuffles (measured ~25%
    // off the sf0.3 wall time). The per-partition count is linear even
    // in a degenerate hot cell.
    val spark = cells.sparkSession
    val w = Window.partitionBy(col("cell"))
    val counted = cells
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot(spark,
        col("vec"), col("vec"))))
      .withColumn("__cn", count(lit(1)).over(w))
    val capped = counted.filter(col("__cn") <= maxCellSize).drop("__cn")
    val a = capped.select(col("cell"), col("id").alias("a"),
      col("vec").alias("va"), col("nrm").alias("na"))
    val b = capped.select(col("cell"), col("id").alias("b"),
      col("vec").alias("vb"), col("nrm").alias("nb"))
    val pairs = a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("va"), col("vb"), col("na"), col("nb"))
    val all =
      if (overCap == "drop") pairs
      else {
        val overs = counted.filter(col("__cn") > maxCellSize).drop("__cn")
        val reps = overs.groupBy(col("cell"))
          .agg(min_by(struct(col("id"), col("vec"), col("nrm")), col("id")).alias("__r"))
          .select(col("cell"), col("__r.id").alias("a"),
            col("__r.vec").alias("va"), col("__r.nrm").alias("na"))
        val star = overs.join(broadcast(reps), Seq("cell"))
          .filter(col("id") =!= col("a"))
          .select(col("a"), col("id").alias("b"), col("va"),
            col("vec").alias("vb"), col("na"), col("nrm").alias("nb"))
        pairs.unionByName(star)
      }
    // no pair dedup needed: each doc lives in exactly one cell, and
    // over-cap cells are disjoint from capped ones
    all
      .withColumn("sim", pairSim(
        graft.functions.GraftFunctions.dot(spark, col("va"), col("vb")),
        col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).alias("sim"))
  }

  /** Reciprocal-rank fusion of ranked retrieval lists — the standard
    * hybrid-search combiner (Cormack/Clarke/Büttcher: score =
    * Σ_lists 1/(c + rank)). Each input carries `(q_id, id, rank)` with
    * rank 1 = best (the [[bruteForceTopK]] / `TextAnalysis.bm25TopK`
    * output shape); returns the fused per-query top-`k` as
    * `(q_id, rank, id, rrf)`.
    *
    * Determinism: a document appears AT MOST ONCE per list, so the
    * fused sum has ≤ |lists| double terms — with the 1-or-2-term sums
    * of a lexical+vector stack the result is order-independent
    * (commutative), and the fused ordering (rrf desc, id asc) is
    * replayable; equal-rank singletons from different lists tie
    * EXACTLY (same 1/(c+r) double) and break toward the smaller id.
    * Scale shape: inputs are already k·|queries| rows by the top-k
    * contract — everything here is query-scale, never corpus-scale (over
    * local legs, [[graft.query.LocalFrame]] computes it with no job). */
  def rrfFuse(lists: Seq[DataFrame], k: Int = 5, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val spark = lists.head.sparkSession
    val ranked = lists.map(_.select(col("q_id"), col("id").cast("long")
        .alias("id"), col("rank").cast("int").alias("rank")))
      .reduce(_ unionByName _)
    ranked
      .groupBy(col("q_id"), col("id"))
      .agg(sum(lit(1.0) / (lit(c.toDouble) + col("rank"))).alias("__rrf"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk(spark,
        col("__rrf"), col("id"), k).alias("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").alias("rank"),
        col("col.id").alias("id"), round(col("col.score"), 6).alias("rrf"))
  }
}
