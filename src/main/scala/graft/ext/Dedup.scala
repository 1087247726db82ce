package graft.ext

import graft.builder.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extensions). Five tiers, cheapest → most recall:
  *
  *  1. exact        — hash-groupBy on content hash
  *  2. fingerprint  — hash-groupBy on normalized content ([[TextAnalysis.fingerprint]])
  *  3. MinHash+LSH  — shingle → k minhashes → bands → bucket join → verified Jaccard
  *  4. SimHash      — 64-bit signature, banded hamming candidates
  *  5. n-gram Jaccard — exact pairwise over an inverted shingle index
  *
  * Scale design: everything is hash-partitioned groupBy/join — no driver
  * materialization, no UDFs (signatures are built from codegen'd
  * `xxhash64`/bit expressions). LSH bucket joins are the 100 TB path;
  * the exact n-gram join is the small-collection verifier. Hot buckets
  * (boilerplate shingles) are capped with `maxBucketSize` to bound join
  * fan-out — the standard skew guard for LSH at scale.
  */
object Dedup {

  /** Seeded 64-bit hash families.
    *  - `xxh64` (default): Spark's codegen'd XxHash64 — the fast engine
    *    family.
    *  - `md5`: 60-bit prefix of `md5("<seed>:<value>")` — slower, but
    *    byte-replayable in any engine with md5 (used by the oracle
    *    cross-checks; verified bit-identical against DuckDB).
    */
  private[graft] def seededHash(family: String, seed: Int, value: Column): Column =
    family match {
      case "xxh64" => xxhash64(lit(seed), value)
      case "md5" => conv(substring(md5(
          concat(lit(seed.toString), lit(":"), value).cast("binary")), 1, 15),
          16, 10).cast("long")
      case other => throw new IllegalArgumentException(s"unknown hash family: $other")
    }

  /** md5 family for minhash components: each digest yields TWO 60-bit
    * values (hex chars 1-15 and 17-31) — md5 is the dominant cost of the
    * replayable family, so component j uses digest j/2, half j%2. */
  private def md5PairHash(j: Int, value: Column): Column = {
    val digest = j / 2; val off = 1 + 16 * (j % 2)
    conv(substring(md5(
      concat(lit(digest.toString), lit(":"), value).cast("binary")), off, 15),
      16, 10).cast("long")
  }

  /** Word n-gram shingles, normalized: distinct per doc.
    *
    * Tokenization is materialized as its own projection before the
    * n-gram lambda: the transform references a bound column, so the
    * regexp/split runs once per row — inlining it would re-run it per
    * n-gram element (O(tokens²) per doc; measured 10× slower).
    * CollapseProject keeps the boundary because the alias is non-cheap
    * and multiply-referenced. */
  def shingleDF(df: DataFrame, idCol: String, textCol: String, n: Int,
                distinct: Boolean = true): DataFrame = {
    val tokd = df.select(col(idCol).alias("id"),
      filter(split(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "), "\\s+"),
        t => length(t) > 0).alias("tk"))
    val tk = col("tk")
    val grams = when(size(tk) >= n,
      transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", tk)))
    // explode_outer: see hashedShingles — keeps the gram lambda tower a
    // single projection instead of re-inlining it into an inferred filter
    val exploded = tokd.select(col("id"), explode_outer(grams).alias("shingle"))
      .filter(col("shingle").isNotNull)
    if (distinct) exploded.distinct() else exploded
  }

  /** Hashed-shingle postings via the native [[graft.functions.NgramHashes]]
    * kernel: `(id, sh)` with `sh` a 64-bit gram hash — one compiled loop
    * per row, no HOF lambda tower (see TextShingles.scala).
    *
    * `explode_outer` + post-explode null filter, NOT plain `explode`:
    * Catalyst's `InferFiltersFromGenerate` turns an inner explode into a
    * `size(e) > 0 AND isnotnull(e)` filter that predicate-pushdown then
    * re-inlines through the alias — the regex-normalize + shingle-hash
    * kernel would run THREE times per document (filter twice + project
    * once; measured 2.2 s → 1.6 s at sf0.1 on the jaccard pipeline).
    * The rule skips outer generates, so the kernel stays a single
    * projection and the null filter costs one attribute comparison.
    * Same pattern at every explode-over-computed-kernel site below. */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String,
                             n: Int, distinct: Boolean): DataFrame =
    df.select(col(idCol).alias("id"),
      explode_outer(graft.functions.GraftFunctions.ngramHashes(
        df.sparkSession, TextAnalysis.normTokens(col(textCol)), n, distinct))
        .alias("sh"))
      .filter(col("sh").isNotNull)

  /** 1. Exact duplicates: groups of identical content. Returns one row
    * per duplicated hash: `(h, n, keep, ids)` — `keep` = min id (the
    * canonical survivor), `ids` sorted. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).alias("h"))
      .agg(count(lit(1)).alias("n"),
           min(col(idCol)).alias("keep"),
           sort_array(collect_list(col(idCol))).alias("ids"))
      .filter(col("n") > 1)

  /** 2. Normalized-fingerprint duplicates. */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("__fp").alias("fp"))
      .agg(count(lit(1)).alias("n"),
           min(col(idCol)).alias("keep"),
           sort_array(collect_list(col(idCol))).alias("ids"))
      .filter(col("n") > 1)

  /** MinHash signatures: one row per doc, `sig` = array of k minhashes.
    *
    * Two physical strategies, same statistics:
    *  - k ≤ 64: k codegen'd `min(xxhash64(j, shingle))` aggregate slots —
    *    whole-stage-generated hash aggregation, no conf dependencies
    *  - k > 64: the native sketch aggregate
    *    ([[graft.functions.MinHashAgg]]) — one k-long buffer updated in
    *    place (k agg slots would bloat generated code past JIT limits).
    *    ObjectHashAggregate's sort fallback kicks in at 128 groups by
    *    default and halves throughput (measured 2.4×): set
    *    `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` ≥ 64k
    *    in the session config for sketch workloads. The operator does NOT
    *    mutate the session conf itself — the knob is read at execution
    *    time, so a scoped set/restore around this (lazy) plan would be a
    *    no-op, and a persistent set would leak into unrelated queries.
    */
  /** Spread `df` across the session's cores before a CPU-dense
    * oracle-family hash kernel. The md5 family re-digests every
    * shingle/token through string md5s (16 per shingle in the minhash
    * replay) — 10-20× the engine family's hashing cost — and that
    * evaluation sits map-side of the signature aggregate, bound to the
    * input's scan splits (one small parquet = 2 tasks; measured 7.6 s
    * CPU on 2/32 cores in the dedup_clusters replay). The round-robin
    * shuffle ships O(corpus) text bytes, trivial against that CPU mass.
    * The engine (xxh64) path keeps the scan partitioning: for its
    * ~10× lighter kernels the same shuffle was measured a wash (see
    * the ngramJaccardPairs note), and at scale inputs carry files ≫
    * cores anyway. The md5 family is never the scale path — it exists
    * only so DuckDB can replay the sketches byte-for-byte.
    *
    * Skipped when the input is already core-wide spread. Two shapes
    * qualify: a plan that still CARRIES a core-wide repartition node
    * (narrow ops above it preserve its spread), and a MATERIALIZED
    * batch — a `LogicalRDD` leaf with ≥ core partitions.
    * DedupBuilder/AnnIndexBuilder batches are the second shape:
    * `Materialize.spread` checkpoints AFTER its repartition, so
    * the Repartition node is gone by the time the signature kernels see
    * the batch — a plan-containment-only guard never fires there and a
    * second round-robin exchange re-ships the corpus text per signature
    * call inside the builder's multi-consumer rounds (measured 16 → 33 s
    * on the 2-batch dedup_builder_incremental lifecycle). A repartition
    * WITHOUT an explicit count lands at `spark.sql.shuffle.partitions`,
    * which only spreads when that conf is ≥ cores — checked, not
    * assumed. */
  private def spreadForFamily(df: DataFrame, family: String): DataFrame = {
    if (family == "xxh64") return df
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    import org.apache.spark.sql.execution.LogicalRDD
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    val shufflePar = sess.sessionState.conf.numShufflePartitions
    val alreadySpread = df.queryExecution.logical.exists {
      case r: Repartition => r.numPartitions >= p
      case r: RepartitionByExpression =>
        r.optNumPartitions.getOrElse(shufflePar) >= p
      case l: LogicalRDD => l.rdd.getNumPartitions >= p
      case _ => false
    }
    if (alreadySpread) df else df.repartition(p)
  }

  def minhashSignatures(df0: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleSize: Int = 3,
                        family: String = "xxh64"): DataFrame = {
    val df = spreadForFamily(df0, family)
    if (family == "xxh64" && numHashes <= 64) {
      // engine fast path: each shingle hashes ONCE to a 64-bit value in
      // the compiled NgramHashes loop (dedup map-side in the same pass);
      // component j is a re-hash of those 8 bytes with seed j — the same
      // independent-family statistics at a fraction of the hashing cost
      // of k string hashes per shingle (strings are ~50 bytes each).
      val sh = hashedShingles(df, idCol, textCol, shingleSize, distinct = true)
      val mins = (0 until numHashes).map(j =>
        min(xxhash64(lit(j), col("sh"))).alias(s"h$j"))
      return sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
        .select(col("id"),
          array((0 until numHashes).map(j => col(s"h$j")): _*).alias("sig"))
    }
    // no distinct: min over a multiset equals min over its set — skips a
    // full shuffle of the exploded shingle table
    val sh = shingleDF(df, idCol, textCol, shingleSize, distinct = false)
    if (numHashes <= 64 || family != "xxh64") {
      val mins = (0 until numHashes).map(j =>
        min(if (family == "md5") md5PairHash(j, col("shingle"))
            else seededHash(family, j, col("shingle"))).alias(s"h$j"))
      sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
        .select(col("id"),
          array((0 until numHashes).map(j => col(s"h$j")): _*).alias("sig"))
    } else {
      sh.groupBy(col("id")).agg(
        graft.functions.MinHashAgg.sketch(df.sparkSession, col("shingle"), numHashes)
          .alias("sig"))
    }
  }

  /** 3. MinHash + LSH near-duplicate pairs.
    * Bands of `rows = numHashes/bands` minhashes; docs sharing any band
    * bucket are candidates; candidates are verified with the MinHash
    * Jaccard estimate (fraction of agreeing components) ≥ `threshold`.
    * Returns `(a, b, est_jaccard)` with a < b. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 64, bands: Int = 16,
                 shingleSize: Int = 3, threshold: Double = 0.7,
                 maxBucketSize: Int = 1000, family: String = "xxh64"): DataFrame = {
    // sigs are used twice (banding + verification): cache the small
    // signature table instead of recomputing the shingle pipeline. At
    // cluster scale this is the "write signatures once" staging table.
    val sigs = Materialize.cache(
      minhashSignatures(df, idCol, textCol, numHashes, shingleSize, family))
    minhashLshFromSigs(sigs, numHashes, bands, threshold, maxBucketSize, family)
  }

  /** Band a signature table into `(id, band, bucket)` rows — ONLY 8-byte
    * columns, so the bucket shuffle and self-join stay narrow; the k-long
    * signature arrays never enter a shuffle. */
  private[graft] def bandSigs(sigs: DataFrame, numHashes: Int, bands: Int,
                              family: String): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    val bandExprs = (0 until bands).map { b =>
      seededHash(family, b, concat_ws(",",
        transform(slice(col("sig"), b * rows + 1, rows), x => x.cast("string"))))
    }
    sigs.select(col("id"), posexplode(array(bandExprs: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Integral ids ride the candidate core's kernel path (see
    * [[bandedPairs]]); any other id type takes its join fallback. */
  private def integralId(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** Upper bound on a plan's row count from parquet FOOTER metadata —
    * zero Spark jobs, driver-side metadata reads only (the same fast
    * path [[graft.store.ParquetStore.count]] uses). None ("unknown,
    * assume big") when the plan contains row-multiplying operators
    * (joins, generators — scan counts no longer bound the output), any
    * non-parquet / non-local leaf, or more files than worth opening
    * (many files ⇒ the corpus is past any small-data floor anyway).
    * Filters/projections only shrink rows, so Σ footer counts is a
    * true upper bound for the plans this accepts. */
  private[graft] def planRowUpperBound(df: DataFrame, maxFiles: Int = 32): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    // ALLOWLIST of provably row-preserving/shrinking operators — anything
    // else (Join, Generate, but also Expand from grouping-set rewrites,
    // typed FlatMap/MapPartitions, future nodes) voids the bound. A
    // denylist here once let Expand through and under-counted, which
    // would misroute a big corpus onto a quadratic branch.
    val safe = plan.collect {
      case n @ (_: Project | _: Filter | _: Aggregate | _: Union |
                _: GlobalLimit | _: LocalLimit | _: Sort | _: Distinct |
                _: Deduplicate | _: RepartitionOperation | _: Sample |
                _: SubqueryAlias | _: LocalRelation | _: LogicalRelation) => n
    }.size == plan.collect { case n => n }.size
    if (!safe) return None
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val perLeaf = plan.collectLeaves().map {
      case l: LocalRelation => Some(l.data.length.toLong)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation
            if h.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val files = h.location.inputFiles.filter(_.endsWith(".parquet"))
          if (files.isEmpty || files.length > maxFiles) None
          else scala.util.Try(files.map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(p, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum).toOption
        case _ => None
      }
      case _ => None
    }
    if (perLeaf.forall(_.isDefined)) Some(perLeaf.flatten.sum) else None
  }

  /** The banded-candidate core. Every signature family generates its
    * candidates here and keeps only its banding (or posting) step and its
    * verification: rows `(key…, id, aux)` — a band bucket or a gram, a
    * doc, a 64-bit payload — become pairs `(a, b, xa, xb)` with `a < b`
    * and each side's aux. Returns the pairs and the over-cap keys (read
    * only by simhash star mode).
    *
    * CAP: a key held by more than `cap` rows is hot (boilerplate
    * shingles, a crowded 16-bit simhash band) and yields no pairs — the
    * standard LSH skew guard, bounding fan-out at C(cap, 2) per key.
    * Integral ids (cast to long, lossless) enforce it INSIDE one
    * aggregation: each key's posting list rides a
    * [[graft.functions.BoundedCollectAgg]] with O(cap) state and
    * NULL-on-overflow, so the rows shuffle ONCE (the hot-count aggregate +
    * broadcast anti-join + self-join shape shuffles them three times), and
    * pairs expand map-side from each list in one compiled loop. Any other
    * id type (string keys are common in document stores) takes
    * [[cappedBandedFallback]] — id-type-agnostic, same pair set.
    *
    * EXCHANGE PIN (`pinned`, kernel path only): the list collect, the
    * pair explode and the caller's map-side verify or partial count all
    * run ON the list partitions. Left adaptive, AQE sizes the byte-small
    * but CPU-dense list shuffle to 1-4 tasks and those stages run on a few
    * of the cores (87k banded rows took 807 ms on one task in the
    * dedup_clusters replay; the n-gram naive branch went 3.47 → 2.2 s at
    * sf0.1 from the pin alone). AQE never re-coalesces a user-specified
    * repartition, so a pinned call repartitions by key at
    * defaultParallelism — the rows are narrow 8-byte columns, so shipping
    * them raw costs what the partial aggregate's output would. Pinned only
    * where the rows are bounded: banded volume is docs × bands (linear,
    * never corpus-quadratic), the n-gram naive branch sits under its row
    * floor / candidate-mass crossover, and incremental n-gram postings are
    * batch-proportional by contract. The prefix branch and the incremental
    * minhash/simhash banding stay adaptive.
    *
    * ORIENTATION: batch producers take `a < b` as is. The incremental
    * producers put `payload << 1 | isNew` in aux and orient through
    * [[touchingNew]]; the cap counts old and new rows together, so it is
    * measured over the same occupancy as a from-scratch build.
    *
    * `reuseLists`: the lists feed both the pairs and the over-cap keys —
    * cache them (simhash star mode). */
  private def bandedPairs(rows: DataFrame, keys: Seq[String], cap: Int,
                          pinned: Boolean, reuseLists: Boolean = false)
      : (DataFrame, DataFrame) =
    if (!integralId(rows, "id")) cappedBandedFallback(rows, keys, cap)
    else {
      val lists0 = postingLists(rows, keys, cap, pinned)
      val lists = if (reuseLists) Materialize.cache(lists0) else lists0
      (expandPairs(lists), lists.filter(col("lst").isNull).select(keys.map(col): _*))
    }

  /** The posting step of [[bandedPairs]] (integral ids): `(key…, lst)`,
    * each key's `(id, aux)` list in one exchange, NULL past the cap. */
  private def postingLists(rows: DataFrame, keys: Seq[String], cap: Int,
                           pinned: Boolean): DataFrame = {
    val spark = rows.sparkSession
    val k = keys.map(col)
    val narrow = rows.select(k :+ col("id").cast("long").alias("id") :+ col("aux"): _*)
    (if (pinned) narrow.repartition(spark.sparkContext.defaultParallelism, k: _*)
      else narrow)
      .groupBy(k: _*)
      .agg(graft.functions.BoundedCollectAgg.boundedCollect(spark,
        col("id"), col("aux"), cap).alias("lst"))
  }

  /** Capped lists → `(a, b, xa, xb)` with `a < b`: non-NULL lists of ≥ 2
    * members expand in the compiled pair loop (positional pairs, ordered
    * by id here; per-row arrays bounded by C(cap, 2) structs). */
  private def expandPairs(lists: DataFrame): DataFrame = {
    val swap = col("pr.a") > col("pr.b")
    lists.filter(col("lst").isNotNull && size(col("lst")) >= 2)
      .select(explode(graft.functions.GraftFunctions.listPairs(
        lists.sparkSession, col("lst"))).alias("pr"))
      .select(least(col("pr.a"), col("pr.b")).alias("a"),
        greatest(col("pr.a"), col("pr.b")).alias("b"),
        when(swap, col("pr.szb")).otherwise(col("pr.sza")).alias("xa"),
        when(swap, col("pr.sza")).otherwise(col("pr.szb")).alias("xb"))
  }

  /** [[bandedPairs]] for non-integral ids: hot-key count aggregate →
    * broadcast anti-join → self-join on the keys; same columns, and the
    * over-cap keys from the count. */
  private def cappedBandedFallback(rows: DataFrame, keys: Seq[String], cap: Int)
      : (DataFrame, DataFrame) = {
    val k = keys.map(col)
    val hot = rows.groupBy(k: _*).agg(count(lit(1)).alias("__n"))
      .filter(col("__n") > cap).select(k: _*)
    val capped = rows.join(broadcast(hot), keys, "left_anti")
    def side(id: String, x: String) =
      capped.select(k :+ col("id").alias(id) :+ col("aux").alias(x): _*)
    (side("a", "xa").join(side("b", "xb"), keys).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("xa"), col("xb")), hot)
  }

  /** Incremental orientation over [[bandedPairs]] output whose aux is
    * `payload << 1 | isNew`: keeps the pairs that touch a new doc, puts
    * the OLD id in `a` of an old-new pair (batches are disjoint, so no
    * order guard) and keeps `a < b` for new-new pairs; `xa`/`xb` become
    * the payloads. */
  private def touchingNew(pairs: DataFrame): DataFrame = {
    val bOld = col("xb").bitwiseAND(1L) === 0L
    pairs.filter(col("xa").bitwiseAND(1L) + col("xb").bitwiseAND(1L) >= 1L)
      .select(when(bOld, col("b")).otherwise(col("a")).alias("a"),
        when(bOld, col("a")).otherwise(col("b")).alias("b"),
        shiftright(when(bOld, col("xb")).otherwise(col("xa")), 1).alias("xa"),
        shiftright(when(bOld, col("xa")).otherwise(col("xb")), 1).alias("xb"))
  }

  /** Re-ingest rule of the incremental producers: an id in both the
    * stored table and the new batch keeps only its NEW signature (new
    * wins) — an id on both sides would otherwise fan every verification
    * join in two. Returns the stored `(id, sig)` rows the batch does not
    * restate. */
  private def storedOnly(existingSigs: DataFrame, newSigs: DataFrame): DataFrame =
    existingSigs.select(col("id"), col("sig"))
      .join(newSigs.select(col("id")), Seq("id"), "left_anti")

  /** MinHash verification: the fraction of agreeing components
    * (`est_jaccard`) ≥ `threshold`, `a`'s signature from `aSigs` and
    * `b`'s from `bSigs`. */
  private def verifyMinhash(cand: DataFrame, aSigs: DataFrame, bSigs: DataFrame,
                            numHashes: Int, threshold: Double): DataFrame =
    cand
      .join(aSigs.select(col("id").alias("a"), col("sig").alias("siga")), Seq("a"))
      .join(bSigs.select(col("id").alias("b"), col("sig").alias("sigb")), Seq("b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("est_jaccard"), 4).alias("est_jaccard"))

  /** [[minhashLsh]] over a pre-computed `(id, sig)` table (e.g. a
    * persisted signature store). `sigs` is consumed twice (banding +
    * verification) — pass a persisted/checkpointed frame. */
  def minhashLshFromSigs(sigs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7, maxBucketSize: Int = 1000,
                         family: String = "xxh64"): DataFrame = {
    val banded = bandSigs(sigs, numHashes, bands, family).withColumn("aux", lit(0L))
    val (pairs, _) = bandedPairs(banded, Seq("band", "bucket"), maxBucketSize,
      pinned = true)
    // a pair sharing several bands is verified once
    verifyMinhash(pairs.select(col("a"), col("b")).distinct(), sigs, sigs,
      numHashes, threshold)
  }

  /** 64-bit SimHash signature per doc: sign-sum over token-hash bits,
    * token multiplicity as weight. Pure expressions: 64 conditional-sum
    * aggregates reassembled with shifts.
    *
    * Single-shuffle: summing ±1 per token OCCURRENCE equals weighting
    * each distinct token by its count, so no `(id, tok)` pre-aggregation
    * shuffle is needed — tokens explode map-side, the 64 partial sums
    * combine map-side, and the only shuffle carries one narrow
    * (id, 64×long) row per doc. */
  def simhashSignatures(df0: DataFrame, idCol: String, textCol: String,
                        family: String = "xxh64"): DataFrame = {
    val df = spreadForFamily(df0, family) // see [[spreadForFamily]]
    if (family == "xxh64") {
      // engine fast path: the whole signature is ONE compiled loop per
      // row ([[graft.functions.SimHash64]]) — a pure projection, so the
      // signature stage needs no explode and no shuffle at all. Hash
      // values match the aggregate spelling bit-for-bit (same chained
      // literal-0 seed), so banding/verification see identical outputs.
      return df.select(col(idCol).alias("id"),
        graft.functions.GraftFunctions.simhash64(df.sparkSession,
          TextAnalysis.tokens(col(textCol))).alias("simhash"))
    }
    val toks = df.select(col(idCol).alias("id"),
        explode_outer(TextAnalysis.tokens(col(textCol))).alias("tok"))
      .filter(col("tok").isNotNull) // see hashedShingles
      .withColumn("h", seededHash(family, 0, col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, lit(1L))
        .otherwise(lit(-1L))).alias(s"b$i")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("id"), sig.alias("simhash"))
  }

  /** 4. SimHash near-duplicate pairs: band the 64 bits into 4×16-bit
    * keys (any exact band match → candidate, guarantees recall for
    * hamming distance ≤ 3), verify with `bit_count(xor) <= maxHamming`.
    *
    * `maxBucketSize` is the hot-bucket skew guard — essential here
    * because each band has AT MOST 65,536 buckets, so bucket occupancy
    * grows linearly with corpus size and an uncapped self-join fans out
    * quadratically (boilerplate-heavy corpora collapse into few
    * buckets). Candidates come from the shared core ([[bandedPairs]]).
    *
    * @param maxBucketSize RECALL CAVEAT: with `overCap = "drop"` (the
    *   default) a (band, bucket) larger than this yields NO pairs from
    *   that band — a duplicate cluster bigger than the cap loses exactly
    *   its most-duplicated members unless another band still pairs them.
    *   `overCap = "star"` instead pairs each over-cap bucket's min-id
    *   representative with every other member — O(bucket) instead of
    *   O(bucket²). Members that VERIFY against the representative
    *   (hamming ≤ max) stay connected; a drifted member close to a
    *   neighbor but far from the representative still yields no pair
    *   from this band (it may pair via another band) — star mode trades
    *   that recall tail for linear cost, vs drop mode which loses the
    *   whole bucket. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, family: String = "xxh64",
                   maxBucketSize: Int = 1000,
                   overCap: String = "drop"): DataFrame =
    simhashPairsFromSigs(simhashSignatures(df, idCol, textCol, family),
      maxHamming, maxBucketSize, overCap)

  /** The 4 × 16-bit band buckets of a packed signature column `sig`:
    * `(id, sig, band, bucket)`. */
  private def simhashBands(sigs: DataFrame, sig: String): DataFrame =
    sigs.select(col("id"), col(sig), posexplode(array((0 until 4).map(b =>
        shiftright(col(sig), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** [[simhashPairs]] over pre-computed signatures `(id, simhash)` —
    * callers that persist signatures (the incremental index) avoid
    * hashing the corpus twice. */
  def simhashPairsFromSigs(sigs0: DataFrame, maxHamming: Int = 3,
                           maxBucketSize: Int = 1000,
                           overCap: String = "drop"): DataFrame = {
    require(overCap == "drop" || overCap == "star",
      s"overCap must be 'drop' or 'star', got '$overCap'")
    // in drop mode the signature table has a single consumer (banding) —
    // no cache; star mode re-reads it for the over-cap member fetch
    val sigs = if (overCap == "star") Materialize.cache(sigs0) else sigs0
    // integral ids are cast to long HERE so the kernel pairs and the
    // star-mode union agree on the id type
    val idExpr =
      if (integralId(sigs, "id")) col("id").cast("long").alias("id") else col("id")
    val banded = simhashBands(sigs.select(idExpr, col("simhash")), "simhash")
    // the signature rides as aux, so hamming verification is map-side
    // arithmetic on the pair rows — no join
    val (cand, hot) = bandedPairs(banded.withColumn("aux", col("simhash")),
      Seq("band", "bucket"), maxBucketSize, pinned = true,
      reuseLists = overCap == "star")
    val pairs = cand.select(col("a"), col("b"),
      bit_count(col("xa").bitwiseXOR(col("xb"))).alias("hamming"))
    val all =
      if (overCap == "drop") pairs
      else {
        // star topology for over-cap buckets: min-id representative pairs
        // with every member — linear in bucket size, keeps the cluster
        // connected for downstream transitive grouping. Over-cap keys
        // come from the NULL lists (kernel) / hot-count keys (fallback);
        // members are re-fetched with one broadcast semi-join against
        // the persisted signature banding.
        val overs = banded.join(broadcast(hot), Seq("band", "bucket"), "left_semi")
        val reps = overs.groupBy(col("band"), col("bucket"))
          .agg(min_by(struct(col("id"), col("simhash")), col("id")).alias("__r"))
          .select(col("band"), col("bucket"),
            col("__r.id").alias("a"), col("__r.simhash").alias("sa"))
        val star = overs.join(broadcast(reps), Seq("band", "bucket"))
          .filter(col("id") =!= col("a")) // rep = min id, so a < b always
          .select(col("a"), col("id").alias("b"),
            bit_count(col("sa").bitwiseXOR(col("simhash"))).alias("hamming"))
        pairs.unionByName(star)
      }
    all.distinct().filter(col("hamming") <= maxHamming)
  }

  /** Incremental MinHash+LSH: near-dup pairs for a NEW batch against an
    * existing signature table plus within the batch itself — without
    * touching the old corpus text. This is the incremental-ETL shape at
    * scale: signatures are computed once per document ever (persist
    * [[minhashSignatures]] output as a store; a MapBuilder keeps it
    * current), and each new batch only bands itself and joins the
    * accumulated band index. Returns `(a, b, est_jaccard)` where `b` is
    * always a new-batch id (`a` may be old or new, `a < b` within-batch).
    *
    * `existingSigs` must come from [[minhashSignatures]] with the SAME
    * (numHashes, shingleSize, family) — signatures from different
    * parameters are incomparable. An id present in BOTH the table and
    * the new batch is treated as a re-ingest: the new signature wins and
    * the stale table row is ignored for this call. */
  def minhashLshIncremental(newDf: DataFrame, existingSigs: DataFrame,
                            idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleSize: Int = 3, threshold: Double = 0.7,
                            maxBucketSize: Int = 1000,
                            family: String = "xxh64"): DataFrame = {
    val newSigs = Materialize.checkpoint(minhashSignatures(newDf, idCol, textCol,
      numHashes, shingleSize, family))
    minhashLshIncrementalSigs(newSigs, existingSigs, numHashes, bands,
      threshold, maxBucketSize, family)
  }

  /** [[minhashLshIncremental]] over pre-computed new-batch signatures
    * (callers that also persist the batch signatures — e.g.
    * [[graft.builder.DedupBuilder]]'s signature store — avoid hashing the
    * batch twice). `newSigs` is consumed multiple times: pass a
    * persisted/checkpointed frame. */
  def minhashLshIncrementalSigs(newSigs: DataFrame, existingSigs: DataFrame,
                                numHashes: Int = 64, bands: Int = 16,
                                threshold: Double = 0.7,
                                maxBucketSize: Int = 1000,
                                family: String = "xxh64"): DataFrame = {
    val oldOnly = storedOnly(existingSigs, newSigs)
    // one aggregation over the union banding, old/new tag in aux
    // ([[bandedPairs]], [[touchingNew]])
    val tagged = bandSigs(oldOnly, numHashes, bands, family).withColumn("aux", lit(0L))
      .unionByName(bandSigs(newSigs, numHashes, bands, family).withColumn("aux", lit(1L)))
    val (pairs, _) = bandedPairs(tagged, Seq("band", "bucket"), maxBucketSize,
      pinned = false)
    verifyMinhash(touchingNew(pairs).select(col("a"), col("b")).distinct(),
      oldOnly.unionByName(newSigs), newSigs, numHashes, threshold)
  }

  /** Incremental SimHash: near-dup pairs for a NEW batch of signatures
    * against an existing signature table plus within the batch — the
    * [[minhashLshIncrementalSigs]] contract with per-doc state of ONE
    * long (`(id, sig)`), so the persisted index is even cheaper than the
    * minhash one. Both inputs carry `(id, sig)` where `sig` is the
    * 64-bit simhash; returns `(a, b, hamming)` with `b` always a
    * new-batch id (`a` may be old or new, `a < b` within-batch) and
    * `hamming ≤ maxHamming`.
    *
    * Same shape: the union banding (4×16-bit bands) goes through the
    * candidate core once ([[bandedPairs]], [[touchingNew]]); hamming
    * verification joins the narrow (id, long) signature tables back on
    * 8-byte keys. */
  def simhashIncrementalSigs(newSigs: DataFrame, existingSigs: DataFrame,
                             maxHamming: Int = 3,
                             maxBucketSize: Int = 1000): DataFrame = {
    val oldOnly = storedOnly(existingSigs, newSigs)
    def tagged(df: DataFrame, isNew: Long) =
      simhashBands(df, "sig").withColumn("aux", lit(isNew))
    val (pairs, _) = bandedPairs(tagged(oldOnly, 0L).unionByName(tagged(newSigs, 1L)),
      Seq("band", "bucket"), maxBucketSize, pinned = false)
    touchingNew(pairs).select(col("a"), col("b")).distinct()
      .join(oldOnly.unionByName(newSigs.select(col("id"), col("sig")))
        .select(col("id").alias("a"), col("sig").alias("__sa")), Seq("a"))
      .join(newSigs.select(col("id").alias("b"), col("sig").alias("__sb")), Seq("b"))
      .withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Cluster resolution: connected components over a duplicate-pair
    * graph — the step that turns near-dup PAIRS into keep-one-per-cluster
    * decisions (production dedup pipelines act on clusters, not pairs).
    *
    * Algorithm: iterative min-label propagation. Every node starts
    * labelled with its own id; each round every node takes the min of its
    * own and its neighbors' labels; fixpoint = each component uniformly
    * carries its min id. Rounds needed = graph diameter — LSH duplicate
    * clusters are near-cliques (diameter 2-3), so this converges in a
    * handful of rounds even at 100 TB. Each round is one join + one
    * hash-agg on narrow (long, long) rows; labels are checkpointed per
    * round so the plan (and its lineage) stays O(1) deep, and the
    * previous round's checkpoint is released as soon as the next is
    * materialized; the pair and edge tables are released after the last
    * round. The returned labels stay registered with the caller's
    * [[graft.builder.Materialize.scope]].
    *
    * Returns `(id, cluster)` with `cluster` = min id of the component.
    * Only ids appearing in `pairs` are returned — untouched docs are
    * trivially their own cluster. The survivor set is `id == cluster`.
    */
  def clusters(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
               maxIter: Int = 20): DataFrame = {
    // materialize the pair plan once: the symmetric-edge union references
    // it twice, and upstream pair producers (LSH join pipelines) are far
    // too expensive to execute per branch
    val p = Materialize.checkpoint(pairs.select(col(aCol).alias("src"), col(bCol).alias("dst")))
    // pre-partition on dst: every round joins edges on dst, so paying one
    // extra shuffle here lets the cached partitioning be reused by all R
    // round joins instead of re-exchanging the edge table each round.
    // The partition COUNT adapts to the edge count (one cheap count on
    // the already-materialized pair table): post-LSH edge sets are orders
    // of magnitude smaller than their corpora, and running every label
    // round as shuffle.partitions-many near-empty tasks pays R × the
    // scheduler floor for nothing (measured 2-3× on the full-suite
    // bench). Large edge sets keep the session's configured parallelism.
    val defaultPar = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val ccPar = math.max(1L, math.min(defaultPar.toLong,
      p.count() / 50000L + 1L)).toInt
    val edges = Materialize.cache(p
      .unionByName(p.select(col("dst").alias("src"), col("src").alias("dst")))
      .distinct()
      .repartition(ccPar, col("dst")))
    // fused first round: labels after round 1 are exactly
    // min(id, min(neighbor id)) — computed as ONE aggregation over the
    // edge table, replacing both the identity-labels materialization and
    // the first join round of the generic loop
    var mat = Materialize.checkpoint(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).alias("lbl"))
      .select(col("src").alias("id"), col("lbl")))
    var labels = mat
    // -1 = "not yet measured": with maxIter=1 the loop never runs and no
    // round observed label changes, so no convergence warning may fire
    var changed = -1L
    var i = 1
    while (changed != 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").alias("dst"), col("lbl").alias("nlbl")),
          Seq("dst"))
        .groupBy(col("src").alias("id")).agg(min(col("nlbl")).alias("nmin"))
      // one Spark action per round: the changed-label count rides the
      // checkpoint materialization as an observed metric instead of a
      // second count() pass over the round's output
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$i")
      val next = Materialize.checkpoint(labels.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).alias("lbl"),
          (coalesce(col("nmin"), col("lbl")) < col("lbl")).alias("__chg"))
        .observe(obs,
          coalesce(sum(when(col("__chg"), 1L).otherwise(0L)), lit(0L)).alias("changed")))
      changed = obs.get.apply("changed").asInstanceOf[Long]
      Materialize.release(mat) // next is materialized; the old round's blocks free
      mat = next
      labels = next.select(col("id"), col("lbl"))
      i += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Dedup.clusters did not converge in $maxIter rounds " +
          s"($changed labels still changing) — a component with diameter " +
          s"> $maxIter is split across cluster ids; raise maxIter")
    Seq(edges, p).foreach(Materialize.release)
    labels.withColumnRenamed("lbl", "cluster")
  }

  /** End-to-end dedup: drop every non-canonical duplicate from `df`.
    * Survivor per connected component = min id ([[clusters]]); docs in
    * no pair pass through untouched. One anti-join against the (small)
    * non-survivor set — the final step of a production dedup pipeline:
    * `keepCanonical(corpus, minhashLsh(corpus, ...))`. */
  def keepCanonical(df: DataFrame, pairs: DataFrame, idCol: String,
                    aCol: String = "a", bCol: String = "b"): DataFrame = {
    val losers = clusters(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster")).select(col("id").alias(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 5. Exact n-gram Jaccard pairs via inverted shingle index:
    * docs sharing ≥1 shingle are paired, common-shingle counts vs
    * per-doc totals give exact Jaccard. The verifier tier — O(pairs
    * sharing shingles); use LSH (tier 3) to pre-filter at scale.
    *
    * Plan shape (round 5): shingles hash once in the compiled
    * [[graft.functions.NgramHashes]] kernel (per-doc set-dedup inside the
    * loop — no distinct shuffle), then the candidate core
    * ([[bandedPairs]]) gathers each shingle's capped posting list in ONE
    * aggregation — the cap drops hot (stopword-only) shingles — and
    * pairs expand map-side from each list.
    * TypedImperativeAggregate note: set
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` ≥ 64k
    * for sketch workloads (see [[minhashSignatures]]).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxPostings: Int = 1000,
                        naiveMaxCandidates: Long = 10000000L,
                        naiveRowFloor: Long = 20000L): DataFrame =
    ngramJaccardPairsFromSigs(ngramSignatures(df, idCol, textCol, n),
      threshold, maxPostings, naiveMaxCandidates, naiveRowFloor)
    // NOTE (round 11): an input-side repartition to spread the shingle
    // kernel past the 2-task single-row-group scan was tried and
    // REVERTED twice — the kernel does spread (0.86 s → 0.42 s), but
    // the raw-text shuffle it inserts costs exactly what the kernel
    // spread saves (measured both with and without the downstream
    // exchange pin). The fix that DID land is downstream: the naive
    // branch pins the inverted-index exchange at defaultParallelism
    // (see the branch body) so the pair expansion + scoreJaccard
    // partial agg use all cores — 3.47 → 2.2 s at sf0.1. The remaining
    // kernel residue is scan-split bound (one row group); at scale
    // inputs carry files ≫ cores and the stage parallelizes naturally.

  /** Per-doc distinct gram-hash signatures `(id, sig)` — the per-doc
    * state the ngram tier persists for incremental builds (the kernel
    * already emits each doc's grams deduplicated). */
  def ngramSignatures(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame =
    df.select(col(idCol).alias("id"),
      graft.functions.GraftFunctions.ngramHashes(df.sparkSession,
        TextAnalysis.normTokens(col(textCol)), n).alias("sig"))

  /** [[ngramJaccardPairs]] over pre-computed signatures `(id, sig)`.
    *
    * Integral-id corpora run a PREFIX-FILTERED similarity join (the
    * Chaudhuri/PPJoin family): a pair with capped-common Jaccard ≥ t
    * must satisfy `common ≥ ceil(t·|sig|)`, so its globally-smallest
    * shared gram lies within the first `|csig| − ceil(t·|sig|) + 1`
    * grams of BOTH capped signatures under any fixed total order (here:
    * gram-hash ascending — the order the signatures already carry).
    * Only those prefixes are posted; candidate pairs are verified
    * EXACTLY by a merge-walk intersection of the full capped signatures,
    * so the output is identical to the naive every-shared-gram
    * expansion. The naive shape emits Σ C(df, 2) candidate rows and
    * aggregates them — on a Zipf vocabulary that is quadratic in
    * corpus size with near-zero aggregation reduction (measured at 10×
    * sf0.1: 170M candidates, 138M distinct pairs, 490 s; prefix
    * filtering + exact verify: same 309k-pair output in ~13 s). */
  /** `naiveMaxCandidates`: estimated-candidate-mass crossover below
    * which the naive every-shared-gram expansion runs instead of the
    * prefix-filtered join (tests pin branch equivalence by forcing 0). */
  /** `naiveRowFloor`: corpus-row upper bound (from parquet footers, no
    * job — [[planRowUpperBound]]) under which the naive branch is taken
    * WITHOUT running the sampled candidate-mass estimate; 0 disables
    * the gate. */
  /** The prefix-filtered candidate plan, shared VERBATIM by the
    * operator's prefix branch and [[ngramJaccardCounters]] — returns
    * `(candRaw, cand, csigs)`: the post-map-side-filter candidate
    * stream BEFORE the distinct (the "generated candidates" mass), its
    * distinct pairs (the verify-join input), and the capped signatures,
    * cached for the caller's scope.
    *
    * Capped signature per doc: hash-ascending for the merge-walk
    * verification, PLUS the same grams rare-first ((df, hash)
    * ascending) for prefix selection — the rarest grams generate the
    * fewest candidates, and any fixed global order is correct. The
    * FULL size rides along for the Jaccard denominator.
    *
    * POSITIONAL filter (PPJoin, round 12): each prefix posting
    * carries the gram's rank in the doc's rare-ordered capped
    * signature, packed into the bounded-collect aux slot with the
    * full size (`szf << 31 | pos` — both < 2^31: array-length
    * contract). Ranks are monotone in the SAME global (df, hash)
    * order the prefixes are cut from, so for a candidate generated
    * at shared-gram ranks (pa, pb) every common gram of the pair
    * ranks ≥ that gram in both docs and
    * common ≤ min(sza − pa, szb − pb). Generation events whose
    * bound cannot reach the equivalent-overlap floor
    * ceil(t/(1+t)·(sza+szb)) drop MAP-SIDE, before the candidate
    * distinct and the fat verify joins — the quadratic mass the
    * naive branch dies on is cut where it is born. The size filter
    * (min ≥ ceil(t·max), else common ≤ min < t·max ≤ t·union)
    * rides the same pass. No qualifying pair is lost: its
    * globally-first common gram lies inside both prefixes (prefix
    * lemma) at both docs' minimal shared ranks, and the bound at
    * that event is ≥ the true overlap, ≥ the floor. The −1e-9
    * absorbs double rounding in ceil at exact-integer boundaries
    * (looser only). Measured sf1 (10× sf0.1): generated candidate
    * rows 13.5M → 2.4M, distinct candidates into the verify joins
    * 11.14M → 1.28M (8.7×), output identical (248,962 pairs,
    * symmetric diff 0). */
  private def prefixCandPlan(posted: DataFrame, threshold: Double,
                             maxPostings: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // the gram lists ([[bandedPairs]]'s posting step, adaptive), live
    // ones only: a gram held by one doc cannot be common
    val lists = postingLists(posted.withColumnRenamed("sz", "aux"), Seq("sh"),
      maxPostings, pinned = false)
      .filter(col("lst").isNotNull && size(col("lst")) >= 2)
    val capped = lists
      .select(size(col("lst")).cast("long").alias("__df"),
        col("sh"), explode(col("lst")).alias("p"))
      .select(col("sh"), col("__df"), col("p.id").alias("id"),
        col("p.aux").alias("sz"))
    // consumed 3× (prefix explode, a-side verify, b-side verify)
    val csigs = Materialize.cache(capped
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("sh"))).alias("csig"),
        sort_array(collect_list(struct(col("__df"), col("sh"))))
          .getField("sh").alias("rare"),
        first(col("sz")).alias("szf")))
    // minimum common for a qualifying pair; the −5e-5 absorbs the
    // round(·, 4) ≥ t acceptance boundary so a pair that only passes
    // via rounding still lands inside both prefixes
    val tE = threshold - 0.00005
    val cMin = ceil(lit(tE) * col("szf")).cast("long")
    val pref = csigs.select(col("id"), col("szf"),
        posexplode(slice(col("rare"), lit(1),
          greatest(size(col("rare")).cast("long") - cMin + 1L, lit(0L))
            .cast("int"))))
      .select(col("id"),
        shiftleft(col("szf").cast("long"), 31)
          .bitwiseOR(col("pos").cast("long")).alias("aux"),
        col("col").alias("sh"))
    val tFrac = tE / (1.0 + tE)
    val (prefPairs, _) = bandedPairs(pref, Seq("sh"), maxPostings, pinned = false)
    val candRaw = prefPairs
      .select(col("a"), col("b"),
        shiftright(col("xa"), 31).alias("sza"),
        col("xa").bitwiseAND(lit((1L << 31) - 1)).alias("pa"),
        shiftright(col("xb"), 31).alias("szb"),
        col("xb").bitwiseAND(lit((1L << 31) - 1)).alias("pb"))
      .filter(least(col("sza"), col("szb")) >=
        ceil(lit(tE) * greatest(col("sza"), col("szb")) - 1e-9).cast("long"))
      .filter(least(col("sza") - col("pa"), col("szb") - col("pb")) >=
        ceil(lit(tFrac) * (col("sza") + col("szb")) - 1e-9).cast("long"))
      .select(col("a"), col("b"))
    // a pair may share several surviving prefix grams
    val cand = candRaw.distinct()
    (candRaw, cand, csigs)
  }

  /** Deterministic superlinearity counters for the ngram tier
    * (VERDICT r13 #3): the scale gate adjudicates on COUNTED pair
    * mass, not wall clock. Returns
    * `(generated_candidates, verify_candidates, output_pairs)` —
    * generated = post-map-side-filter candidate rows before the
    * distinct; verify = distinct pairs entering the exact verify
    * joins; output = final pairs ≥ threshold. Runs the PREFIX branch
    * unconditionally (the branch the gate watches at scale) through
    * the exact same [[prefixCandPlan]] the operator executes, so the
    * counters cannot drift from the plan they adjudicate. */
  def ngramJaccardCounters(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.8,
                           maxPostings: Int = 1000): (Long, Long, Long) = Materialize.scope {
    val sigs = ngramSignatures(df, idCol, textCol, n)
    require(integralId(sigs, "id"),
      "ngramJaccardCounters: integral ids required (the prefix branch)")
    val (candRaw, cand, csigs) = prefixCandPlan(gramPostings(sigs), threshold,
      maxPostings)
    // output count from the ALREADY-HELD plan: re-running the operator
    // via ngramJaccardPairsFromSigs(...).count() would cache csigs a
    // second time. The verify tail is the prefix branch's own, over the
    // same csigs, so the count is identical by construction.
    (candRaw.count(), cand.count(), verifyExact(cand, csigs, threshold).count())
  }

  def ngramJaccardPairsFromSigs(sigs: DataFrame, threshold: Double = 0.8,
                                maxPostings: Int = 1000,
                                naiveMaxCandidates: Long = 10000000L,
                                naiveRowFloor: Long = 20000L): DataFrame = {
    val posted = gramPostings(sigs)
    // gram co-occurrence rows `(a, b, sza, szb)`, one per shared gram
    def common(rows: DataFrame, pinned: Boolean) =
      bandedPairs(rows.withColumnRenamed("sz", "aux"), Seq("sh"), maxPostings,
        pinned)._1.select(col("a"), col("b"), col("xa").alias("sza"),
        col("xb").alias("szb"))
    if (integralId(sigs, "id")) {
      // ONE corpus scan builds the inverted index (gram → bounded
      // posting list), and EVERYTHING else derives from that
      // vocab-sized table: the hot-gram cap (boundedCollect nulls
      // over-cap lists — dropping a gram there is exactly the
      // capped-common contract the oracle replays), the per-gram df
      // (= size(lst) for surviving grams), the candidate-volume
      // statistic (Σ C(size, 2) — a one-action agg over the vocab,
      // not a second corpus scan), and (prefix path) the capped
      // postings themselves (explode(lst)). Round-9 lesson: the
      // previous spelling persisted raw postings and ran a separate
      // df-table scan before deciding, charging the prefix branch's
      // fixed cost to the small-corpus naive branch too (2.6 s →
      // 6.4 s at sf0.1).
      // Adaptive join strategy (an AQE-style choice from a measured,
      // vocab-sized statistic): the naive expansion materializes
      // Σ C(df, 2) candidate rows — unbeatable constants when that sum
      // is small, quadratic death on Zipf vocabularies (measured 170M
      // candidates / 490 s at 10× sf0.1). Past the crossover the
      // prefix-filtered join pays its fixed cost (capped-sig collects,
      // verify joins) and wins asymptotically (same corpus: 38 s,
      // identical output).
      //
      // The statistic is ONE streaming scan (tokenize → explode →
      // vocab-sized count agg → driver sum) and NOTHING is persisted
      // for it. Round-9 lesson, twice over: (a) persisting raw
      // postings before the decision charged the prefix branch's
      // fixed cost to the naive branch (2.6 s → 6.4 s at sf0.1);
      // (b) persisting the array<struct> posting LISTS was no better —
      // an InMemoryTableScan of fat deserialized arrays re-converts
      // every element per read and LOSES to recomputing the whole
      // codegen'd tokenize→collect pipeline. Both branches stream
      // the lists (one consumer each — the second scan is cheaper than
      // the cache); only csigs, read 3×, earns a persist.
      // Round 9: the statistic runs on a DETERMINISTIC 10% document
      // sample (xxhash64(id) residue — reproducible across runs, no
      // seed state), scaled by 1/p² — a doc pair sharing a gram
      // survives sampling with p², so Σ C(df_s, 2)/p² is unbiased for
      // the full pair mass. This cuts the decision scan ~10× (measured
      // 4.9 s → 0.6 s at sf1); estimator noise only shifts the BRANCH
      // choice near the crossover, never the output (both branches are
      // exact). Over-cap grams that fall under the cap when sampled
      // inflate the estimate slightly — conservative (prefers the
      // prefix branch, the asymptotically-safe side). Tiny corpora
      // sample to zero docs → estimate 0 → naive branch, the right
      // choice there by construction.
      // Round-10 floor gate: below ~20k corpus rows the naive branch
      // ALWAYS wins (the measured crossover sits at ~10M candidate
      // mass, reached around 16k docs of web text — sf0.3; sf0.1 is
      // 5.5k), so when parquet footer metadata BOUNDS the corpus under
      // the floor, the decision scan is skipped entirely — the sampled
      // statistic was pure overhead at small scale (r9: 2.9 → 3.9 s at
      // sf0.1). The bound is an over-count (union branches re-count the
      // whole file), which only ever errs toward running the estimate.
      // postEst = 0 keeps the prefix branch's broadcast heuristic
      // untouched on the (impossible under the gate) prefix path.
      // naiveMaxCandidates == 0 means "force the prefix branch" (the
      // branch-equivalence tests) — the gate must not override that
      val underFloor = naiveMaxCandidates > 0 &&
        planRowUpperBound(sigs).exists(_ <= naiveRowFloor)
      val (candEst, postEst) = if (underFloor) (0L, 0L) else {
        val sPosted = posted.filter(pmod(xxhash64(col("id")), lit(10)) === 0)
        // one row, two statistics off the same sampled vocab table:
        // candidate pair mass (branch choice) and total posting volume
        // (the verify-join broadcast decision below — csigs bytes ≈
        // postings × ~24 B, so the posting count says whether the capped
        // signatures fit a broadcast)
        val statRow = sPosted.groupBy(col("sh")).agg(count(lit(1)).alias("__df"))
          .agg(
            sum(when(col("__df") >= 2 && col("__df") <= maxPostings,
              col("__df") * (col("__df") - 1) / 2)).alias("c"),
            sum(col("__df")).alias("p"))
          .first()
        def statVal(i: Int, scale: Long): Long =
          Option(statRow.get(i)).map(_.asInstanceOf[Number].longValue() * scale)
            .getOrElse(0L)
        (statVal(0, 100L), statVal(1, 10L))
      }
      if (candEst <= naiveMaxCandidates) {
        // The inverted-index exchange is PINNED ([[bandedPairs]]): the
        // pair explode and scoreJaccard's CPU-heavy partial aggregation
        // run map-side on the list partitions, and this branch is bounded
        // by the row floor / candidate-mass crossover. (An input-side
        // corpus spread was tried on top and REVERTED again — the raw
        // text shuffle costs exactly what the kernel spread saves.)
        val spark = sigs.sparkSession
        val pairs = common(posted, pinned = true)
          // The PAIR exchange is pinned too, for the same reason: the
          // candidate mass has near-zero aggregation reduction on Zipf
          // vocabularies (measured 1.78M shuffle records from 1.78M
          // candidates at sf0.1), so the map-side partial count only
          // burned CPU while AQE sized the ~30 MB shuffle down to 4
          // tasks and the final count ran on 4/32 cores. Partitioning
          // by (a, b) — a subset of scoreJaccard's group keys, so no
          // further exchange follows — ships the same bytes, skips the
          // no-op partial, and spreads the final aggregate (measured
          // 1.49 → 1.10 s isolated on top of the lists pin).
          .repartition(spark.sparkContext.defaultParallelism,
            col("a"), col("b"))
        return scoreJaccard(pairs, threshold)
      }
      // PREFIX branch: candidate generation extracted to
      // prefixCandPlan so the deterministic superlinearity counters
      // ([[ngramJaccardCounters]]) measure EXACTLY the operator's plan
      val (_, cand, csigs) = prefixCandPlan(posted, threshold, maxPostings)
      // verify-join strategy: candidates × fat signature arrays. The
      // second join's input carries the first join's signature column,
      // so a shuffle join moves |cand| × |csig| bytes — measured ~20 GB
      // at sf1 (47M candidates × ~400 B signatures). When the sampled
      // posting volume says the capped signatures fit a broadcast
      // (~24 B/posting; cap 4M postings ≈ 100 MB), hint it and
      // verification becomes a map-side hash lookup over the candidate
      // stream. At corpus scale the estimate blows the cap and the
      // joins stay shuffles — the only exact option at that size.
      val bcastVerify = postEst > 0 && postEst <= 4000000L
      verifyExact(cand, csigs, threshold,
        d => if (bcastVerify) broadcast(d) else d)
    } else {
      // non-integral ids: the join fallback, whose postings feed the
      // hot-gram count and both join sides — cached
      scoreJaccard(common(Materialize.cache(posted), pinned = false), threshold)
    }
  }

  /** One row per (doc, gram) of a signature table `(id, sig)`:
    * `(id, sz, sh)`, `sz` the doc's gram-set size, integral ids cast to
    * long ([[bandedPairs]]). Postings are keyed by the 64-bit gram hash,
    * not the string — 8-byte keys in the inverted-index shuffle
    * (collision odds ~|shingles|²/2^65: nil). `explode_outer`: see
    * hashedShingles — when `sigs` is the lazy kernel projection, inner
    * explode re-inlines the kernel 3×. */
  private def gramPostings(sigs: DataFrame): DataFrame = {
    val id = if (integralId(sigs, "id")) col("id").cast("long") else col("id")
    sigs.select(id.alias("id"), size(col("sig")).cast("long").alias("sz"),
        explode_outer(col("sig")).alias("sh"))
      .filter(col("sh").isNotNull)
  }

  /** `(a, b, common, sza, szb)` → `(a, b, jaccard)` at `≥ threshold`,
    * jaccard rounded to 4 places (the oracle's acceptance rule). */
  private def jaccardAtLeast(df: DataFrame, threshold: Double): DataFrame =
    df.withColumn("jaccard", round(col("common").cast("double") /
        (col("sza") + col("szb") - col("common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** The exact verification of prefix candidates, shared by the prefix
    * branch and [[ngramJaccardCounters]]: a merge-walk intersection of
    * the two capped signatures; `side` wraps each signature side (the
    * prefix branch's broadcast hint). */
  private def verifyExact(cand: DataFrame, csigs: DataFrame, threshold: Double,
                          side: DataFrame => DataFrame = identity): DataFrame =
    jaccardAtLeast(cand
      .join(side(csigs.select(col("id").alias("a"), col("csig").alias("__ca"),
        col("szf").alias("sza"))), Seq("a"))
      .join(side(csigs.select(col("id").alias("b"), col("csig").alias("__cb"),
        col("szf").alias("szb"))), Seq("b"))
      .withColumn("common", graft.functions.GraftFunctions.sortedIntersect(
        cand.sparkSession, col("__ca"), col("__cb"))), threshold)

  /** The ONE jaccard-scoring tail shared by the from-scratch and
    * incremental ngram tiers (the incremental-equals-from-scratch
    * convergence contract pins their agreement): gram co-occurrence
    * rows `(a, b, sza, szb)` → `(a, b, jaccard)` at `≥ threshold`.
    * sza/szb are functionally determined by a/b — extra group keys
    * only. */
  private def scoreJaccard(common: DataFrame, threshold: Double): DataFrame =
    jaccardAtLeast(common.groupBy("a", "b", "sza", "szb")
      .agg(count(lit(1)).alias("common")), threshold)

  /** Incremental n-gram Jaccard: pairs for a NEW batch of gram
    * signatures against an existing signature table plus within the
    * batch — the [[minhashLshIncrementalSigs]] contract for the
    * verifier tier. Both inputs carry `(id, sig)` with `sig` the doc's
    * distinct gram hashes; returns `(a, b, jaccard)` with `b` always a
    * new-batch id and `jaccard ≥ threshold`.
    *
    * Batch-proportional SHUFFLE: stored postings are semi-joined to the
    * grams the new batch actually shares before the inverted-index
    * aggregation — a gram absent from the batch cannot produce a new
    * pair, so only shared-gram postings leave the stored side's scan
    * (the scan itself is once per build, like every incremental tier).
    * Every old doc holding a shared gram survives the filter, so the
    * `maxPostings` cap is measured over the FULL old+new occupancy of
    * each pairable gram — identical to a from-scratch build. The
    * old/new tag and the per-doc set size share the bounded-collect aux
    * slot (`sz << 1 | tag`). */
  def ngramJaccardIncrementalSigs(newSigs: DataFrame, existingSigs: DataFrame,
                                  threshold: Double = 0.8,
                                  maxPostings: Int = 1000): DataFrame = {
    val oldOnly = storedOnly(existingSigs, newSigs)
    def post(df: DataFrame, isNew: Long) = gramPostings(df)
      .select(col("sh"), col("id"), shiftleft(col("sz"), 1).bitwiseOR(lit(isNew)).alias("aux"))
    val newPosted = post(newSigs, 1L)
    // the batch's distinct gram set is batch-proportional BY CONTRACT —
    // hint the broadcast so the stored-side semi-join stays map-side
    // even with AQE off (an unhinted sort-merge here would shuffle the
    // corpus-scale stored postings every batch)
    val newGrams = broadcast(newPosted.select(col("sh")).distinct())
    val oldPosted = post(oldOnly, 0L).join(newGrams, Seq("sh"), "left_semi")
    // pinned: the posted set is batch-proportional by contract
    val (pairs, _) = bandedPairs(oldPosted.unionByName(newPosted), Seq("sh"),
      maxPostings, pinned = true)
    scoreJaccard(touchingNew(pairs).select(col("a"), col("b"),
      col("xa").alias("sza"), col("xb").alias("szb")), threshold)
  }

  /** 6. Benchmark decontamination: docs sharing ≥1 word n-gram with an
    * evaluation set (the GPT-3/Gopher-style n-gram overlap check that
    * keeps test sets out of training corpora). Returns `(id, matched)` —
    * contaminated corpus docs with their count of distinct shared grams.
    *
    * Scale shape: the eval set is SMALL BY CONTRACT (benchmarks are
    * thousands of docs, the corpus is the 100 TB side), so its distinct
    * gram-hash table broadcasts and the corpus-side join is map-side —
    * the corpus is scanned once, grams hash in the compiled
    * [[graft.functions.NgramHashes]] kernel, and the only shuffle is the
    * per-doc match-count aggregation over the (rare) surviving rows. */
  def contamination(corpus: DataFrame, evalDf: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    def grams(df: DataFrame) = df.select(col(idCol),
      // explode_outer: see hashedShingles — single kernel eval per row
      explode_outer(graft.functions.GraftFunctions.ngramHashes(spark,
        TextAnalysis.normTokens(col(textCol)), n)).alias("sh"))
      .filter(col("sh").isNotNull)
    val evalGrams = grams(evalDf).select(col("sh")).distinct()
    grams(corpus)
      .join(broadcast(evalGrams), Seq("sh"))
      // per-doc grams are already distinct (kernel contract), so the
      // count IS the distinct shared-gram count — no countDistinct state
      .groupBy(col(idCol)).agg(count(lit(1)).alias("matched"))
  }

  /** Drop every corpus doc contaminated by `evalDf` ([[contamination]]).
    * The contaminated-id set is MATERIALIZED (localCheckpoint — it is
    * small by contract: docs overlapping a benchmark) before the
    * anti-join, so the corpus-side n-gram pipeline — the dominant cost —
    * runs exactly once; the anti-join's second corpus pass is a plain
    * row scan with no gram hashing, and AQE sees the checkpointed set's
    * real size when picking broadcast-vs-shuffle for the anti-join. */
  def decontaminate(corpus: DataFrame, evalDf: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val contaminated = Materialize.checkpoint(
      contamination(corpus, evalDf, idCol, textCol, n).select(col(idCol)))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Corpus-duplicated span detection — the exact-substring duplication
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): a SPAN is an n-token window, and a span
    * is duplicated when at least `minDf` docs contain it (per-doc
    * distinct windows via the compiled gram kernel). Returns
    * `(id, dup_spans, total_spans, dup_fraction)` for every doc with at
    * least one duplicated span — the signal curation pipelines
    * threshold on to flag or strip boilerplate-heavy documents (the
    * line-level filter [[dedupLines]] catches newline-aligned
    * boilerplate; this catches duplication at ANY token offset).
    *
    * Scale shape: grams hash in the compiled kernel and shuffle as
    * 8-byte keys ONCE for the document-frequency aggregate (map-side
    * partials collapse repeats); the duplicated-gram set joins back as
    * a semi-join AQE sizes at runtime — like [[dedupLines]]' hot set,
    * it is bounded only by corpus redundancy, so it is deliberately
    * unhinted.
    *
    * `idCol` must be UNIQUE (the keyed-store contract) — with the
    * kernel emitting per-doc DISTINCT grams, (id, gram) rows are then
    * unique and both aggregates run as plain `count(1)` instead of
    * distinct aggregates (which would pay a second expand/shuffle
    * phase). A re-ingested duplicate id row inflates both counts;
    * dedup by key upstream first.
    *
    * Short-doc contract (shared with [[stripDuplicatedSpans]]): a doc
    * with fewer than `n` tokens counts ONE whole-text window (the gram
    * kernel's `len < n` fallback), so two identical tiny docs report
    * `dup_fraction = 1.0` — and the removal pass strips them via the
    * same whole-text window, keeping detect and act in agreement. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, minDf: Int = 2): DataFrame = {
    val posted = ngramSignatures(df, idCol, textCol, n)
      .select(col("id"), size(col("sig")).cast("long").alias("total_spans"),
        explode_outer(col("sig")).alias("sh")) // see hashedShingles
      .filter(col("sh").isNotNull)
    // the kernel emits each doc's grams DEDUPLICATED, so (id, sh) rows
    // are unique and plain count(1) IS the distinct count — a distinct
    // aggregate here would pay a second expand/shuffle phase for nothing
    val dup = posted.groupBy(col("sh"))
      .agg(count(lit(1)).alias("__df"))
      .filter(col("__df") >= minDf).select(col("sh"))
    posted.join(dup, Seq("sh"), "left_semi")
      .groupBy(col("id"), col("total_spans"))
      .agg(count(lit(1)).alias("dup_spans"))
      .select(col("id"), col("dup_spans"), col("total_spans"),
        round(col("dup_spans").cast("double") / col("total_spans"), 4)
          .alias("dup_fraction"))
  }

  /** The removal action behind [[duplicatedSpans]] (Lee et al. 2022
    * strip duplicated substrings from the corpus): every token covered
    * by any corpus-duplicated n-token window (document frequency ≥
    * `minDf`, cross-doc — a within-doc repeat alone does not mark a
    * span) is dropped, and the doc's SURVIVING normalized tokens are
    * reassembled in order. Returns `(id, textCol)` for every doc. Docs
    * shorter than `n` tokens strip via their WHOLE-TEXT window — the
    * same short-doc contract as [[duplicatedSpans]] / the gram kernel's
    * `len < n` fallback, so a doc the detector reports as fully
    * duplicated (`dup_fraction = 1.0`) is actually emptied by the
    * removal pass instead of surviving unchanged. The output is the
    * normalized token stream (lowercased, punctuation collapsed) minus
    * duplicated spans — the training-tokenizer view of the text, like
    * the reference pipelines that strip at the token level.
    *
    * Scale shape — window hashes are computed MAP-SIDE by the compiled
    * gram kernel ([[graft.functions.NgramHashes]] with `distinct=false`
    * emits one hash per window START in document order; a `len < n` doc
    * gets its ONE whole-text window at `s = 0`), zipped to the token
    * array (null-padded to token length) and exploded ONCE into narrow
    * `(id, s, tok, h)` rows — no lead-window pass, so nothing needs a
    * per-doc sort just to BUILD windows. The document-frequency side
    * re-runs the kernel in distinct mode over bare hashes (no token
    * strings) and shuffles 8-byte hashes once (map-side partials;
    * per-doc distinct inside the kernel makes `count(1)` the df). The
    * duplicated-hash set joins back UNHINTED (AQE broadcasts the
    * usually-small set; a boilerplate-heavy corpus degrades gracefully
    * to a shuffle join) to flag duplicated STARTS, and coverage is the
    * ONE per-doc sort of the query — `max(flag)` over the trailing
    * `n−1` rows (positions are dense by construction, so the row frame
    * IS the position range); the survivor filter and the per-doc
    * reassembly aggregate reuse that id-clustered exchange. (Rejected
    * spellings, measured: lead-window token-hash tuples pay an extra
    * per-doc sort evaluated once per consumer — 2× at small SF;
    * per-window `slice`+`concat_ws` in an interpreted lambda ~20×;
    * referencing a precomputed hash ARRAY inside a window lambda trips
    * the repo's documented CollapseProject O(d²) re-inlining trap
    * ~50×.) Window equality is gram-string equality — the same family
    * the detector uses, never externally replayed. Docs with NULL/empty
    * text come back with empty text (every doc keeps its row). `idCol`
    * unique by the keyed-store contract. */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, minDf: Int = 2): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    val spark = df.sparkSession
    val base = df.select(col(idCol).alias("id"),
      TextAnalysis.normTokens(col(textCol)).alias("toks"))
    val hs = graft.functions.GraftFunctions.ngramHashes(spark, col("toks"), n,
      distinct = false)
    // window-start hashes padded with nulls to token length: one zip +
    // posexplode_outer (see hashedShingles) carries (s, tok, h) without
    // duplicating either array per row; s past the last window start
    // (and every s > 0 of a short doc) rides with h = null
    val padded = concat(hs, array_repeat(lit(null).cast("long"),
      greatest(size(col("toks")) - size(hs), lit(0))))
    val rows = base
      .select(col("id"),
        posexplode_outer(arrays_zip(col("toks").alias("tok"),
          padded.alias("h"))).as(Seq("s", "z")))
      .filter(col("z").isNotNull)
      .select(col("id"), col("s"), col("z.tok").alias("tok"),
        col("z.h").alias("h"))
    val dupH = base
      .select(col("id"), explode_outer(
        graft.functions.GraftFunctions.ngramHashes(spark, col("toks"), n))
        .alias("h"))
      .filter(col("h").isNotNull)
      // distinct-mode kernel: each (id, h) appears once, so count(1) is
      // the cross-doc document frequency
      .groupBy(col("h")).agg(count(lit(1)).alias("__df"))
      .filter(col("__df") >= minDf)
      .select(col("h"), lit(1).alias("__dup"))
    val cover = Window.partitionBy(col("id")).orderBy(col("s"))
      .rowsBetween(-(n - 1), 0)
    val kept = rows.join(dupH, Seq("h"), "left_outer")
      .withColumn("__start", when(col("__dup").isNotNull, 1).otherwise(0))
      .withColumn("__cov", max(col("__start")).over(cover))
      .filter(col("__cov") === 0)
      .groupBy(col("id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("s"), col("tok")))),
        x => x.getField("tok")), " ").alias(textCol))
    base.select(col("id")).join(kept, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col(textCol), lit("")).alias(textCol))
  }

  /** 7. Corpus-wide line-level dedup (the C4 boilerplate filter): drop
    * every line whose total occurrence count across the corpus exceeds
    * `maxOccurrences` (navigation chrome, cookie banners, license
    * footers), and reassemble each document's surviving lines in order.
    * Returns `(id, text)`; documents whose every line is boilerplate drop
    * out entirely (their cleaned text would be empty).
    *
    * Scale shape: lines shuffle as 8-byte hashes for the frequency
    * aggregate (map-side partials collapse repeats before the exchange);
    * the hot-line set only admits lines repeating > `maxOccurrences`
    * times corpus-wide — usually small, so AQE converts the removal
    * anti-join to a broadcast at runtime, but it is NOT hinted: its size
    * is bounded only by totalLines/maxOccurrences, and a boilerplate-
    * heavy corpus can legitimately exceed broadcast limits, in which
    * case the join degrades gracefully to a shuffle. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 maxOccurrences: Int = 10,
                 family: String = "xxh64"): DataFrame =
    dedupSegments(df, idCol, textCol, "\n", maxOccurrences, family)

  /** Paragraph-level corpus dedup — [[dedupLines]] at blank-line
    * granularity (`\n\n` separators): drops whole paragraphs repeated
    * more than `maxOccurrences` times corpus-wide (boilerplate blocks,
    * repeated disclaimers, templated intros) and reassembles surviving
    * paragraphs in order. The segment tier between line-level and
    * document-level dedup in a standard curation stack. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      maxOccurrences: Int = 10,
                      family: String = "xxh64"): DataFrame =
    dedupSegments(df, idCol, textCol, "\n\n", maxOccurrences, family)

  /** Shared segment-level dedup kernel: split on the literal separator
    * `sep`, drop segments whose corpus-wide occurrence count exceeds
    * `maxOccurrences`, reassemble with the same separator. */
  private def dedupSegments(df: DataFrame, idCol: String, textCol: String,
                            sep: String, maxOccurrences: Int,
                            family: String): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode_outer(
          split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line"))) // outer: see hashedShingles (split ×3)
      .filter(col("line").isNotNull)
      .withColumn("lh", seededHash(family, 0, col("line")))
    val hot = lines.groupBy(col("lh"))
      .agg(count(lit(1)).alias("n")).filter(col("n") > maxOccurrences)
      .select(col("lh"))
    // no broadcast HINT: the hot-line set is usually small, but it is
    // bounded only by totalLines/maxOccurrences — a boilerplate-heavy
    // corpus at 100 TB can push it past broadcast limits, so let AQE
    // pick broadcast-vs-shuffle from the measured size at runtime
    lines.join(hot, Seq("lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), sep).alias(textCol))
  }
}
