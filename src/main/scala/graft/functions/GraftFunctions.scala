package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._

/** Public DataFrame/SQL surface of the HLL engine.
  *
  * DataFrame: `import graft.functions.GraftFunctions._` then
  * `df.agg(hll_cardinality($"user_id", 4096))`.
  *
  * SQL: `SELECT hll_cardinality(user_id, 4096) FROM events` on any session
  * built with the engine on its classpath (`graft.plans.GraftExtensions`
  * registers [[sqlFunctions]] at session build).
  *
  * Every aggregate casts its input to string first, replicating the
  * reference's `str(element)` coercion before hashing
  * (HLL/HyperLogLog.py:110) — `hll_cardinality(11L)` and
  * `hll_cardinality("11")` agree, as in the reference.
  */
object GraftFunctions {

  private def aggCol(f: AggregateFunction): Column =
    GraftShims.column(f.toAggregateExpression())

  /** Hash-input coercion: Python-`str()`-parity for DOUBLE/FLOAT (see
    * [[PythonStr]]), Spark cast semantics elsewhere (already Python-equal
    * for ints and strings). `hll_cardinality(lit(400.2024))` hashes
    * "400.2024" exactly as the reference's `str(400.2024)` does.
    */
  private def str(col: Column): Column =
    GraftShims.column(PyStrCoerce(e(col)))

  private def e(col: Column): Expression = GraftShims.expression(col)

  // ---- DataFrame API ----

  /** Approximate distinct count (the reference's flagship query,
    * HLL/examples.py:16-25, 56-67). k in [16, 65536] for bits=32,
    * [16, 262144] for bits=64.
    */
  def hll_cardinality(col: Column, k: Int = 4096, bits: Int = 64): Column =
    aggCol(HllCardinality(e(str(col)), k, bits))

  /** Build a re-mergeable sketch as a BinaryType value. */
  def hll_sketch_agg(col: Column, k: Int = 4096, bits: Int = 64): Column =
    aggCol(HllSketchAgg(e(str(col)), k, bits))

  /** Merge a column of stored sketches into one sketch. */
  def hll_union_agg(col: Column): Column =
    aggCol(SketchUnionAgg(e(col), SketchFamily.hll))

  /** Finalize a stored sketch to its cardinality estimate. */
  def hll_estimate(col: Column): Column =
    GraftShims.column(HllEstimate(e(col)))

  /** Non-mutating merge of two sketch values (reference `+`). */
  def hll_union(a: Column, b: Column): Column =
    GraftShims.column(HllUnion(e(a), e(b)))

  /** Theoretical relative standard error of a stored sketch. */
  def hll_error(col: Column): Column =
    GraftShims.column(HllError(e(col)))

  /** Sketch parameter struct (k, m, p, bits, alpha, error) — the reference's
    * instance attributes as a column.
    */
  def hll_info(col: Column): Column =
    GraftShims.column(HllInfo(e(col)))

  /** Engine-portable export: struct(k, bits, hash, regs) — the sketch's
    * non-zero registers as plain SQL data (see [[HllWire]]).
    */
  def hll_export(col: Column): Column =
    GraftShims.column(HllExport(e(col)))

  /** Rebuild a stored sketch from the portable wire struct; inverse of
    * [[hll_export]], order-insensitive and max-folding over duplicate
    * register indexes.
    */
  def hll_import(col: Column): Column =
    GraftShims.column(HllImport(e(col)))

  /** Inclusion-exclusion intersection estimate over two sketch values:
    * |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B). Standard HLL extension (the
    * monoid only supports union natively); error grows when the true
    * intersection is small relative to the union.
    */
  def hll_intersect_estimate(a: Column, b: Column): Column =
    hll_estimate(a) + hll_estimate(b) - hll_estimate(hll_union(a, b))

  /** |A \ B| by the same inclusion-exclusion: |A∪B| - |B|. Completes the
    * sketch set algebra (union is native, intersect and difference derive);
    * inherits the intersect caveat — relative error grows as the difference
    * shrinks against the union.
    */
  def hll_difference_estimate(a: Column, b: Column): Column =
    hll_estimate(hll_union(a, b)) - hll_estimate(b)

  /** Jaccard similarity estimate J(A,B) = |A∩B| / |A∪B| from two sketches,
    * via the inclusion-exclusion intersection over the native union. Rounds
    * out the sketch set algebra (union/intersect/difference/Jaccard); shares
    * the intersect caveat — noisy when the overlap is small relative to the
    * union.
    */
  def hll_jaccard_estimate(a: Column, b: Column): Column = {
    val u = hll_estimate(hll_union(a, b))
    (hll_estimate(a) + hll_estimate(b) - u) / u
  }

  /** Approximate top-k frequent items (mergeable Misra-Gries): items with
    * frequency > n/capacity are guaranteed present; exact when capacity >=
    * distinct count. Input cast to string like the HLL family.
    */
  def approx_top_k(col: Column, k: Int = 10, capacity: Int = 1024): Column =
    aggCol(ApproxTopK(e(str(col)), k, capacity))

  /** Stored-binary Misra-Gries sketch (the warehouse variant of
    * [[approx_top_k]]): merge later with [[topk_union_agg]] or the
    * row wires, finalize with `topk_export(...).entries`.
    */
  def topk_sketch_agg(col: Column, capacity: Int = 1024): Column =
    aggCol(TopKSketchAgg(e(str(col)), capacity))

  /** Merge stored MG sketches — per-(day, group) heavy-hitter sketches
    * roll up to any coarser grain (standard MG decrement).
    */
  def topk_union_agg(col: Column): Column =
    aggCol(SketchUnionAgg(e(col), SketchFamily.topk))

  /** Count-Min frequency sketch as a BinaryType value: point-queryable,
    * mergeable frequency estimates for arbitrary keys (never undercounts;
    * overcount <= 2n/width w.p. 1 - 2^-depth). Complements [[approx_top_k]]
    * (which keeps only heavy hitters).
    */
  def cms_sketch_agg(col: Column, depth: Int = 5, width: Int = 2048): Column =
    aggCol(CmsSketchAgg(e(str(col)), depth, width))

  /** Frequency estimate for one item from a stored Count-Min sketch. */
  def cms_query(sketch: Column, item: Column): Column =
    GraftShims.column(CmsQuery(e(sketch), e(str(item))))

  /** Merge stored CMS sketches (element-wise counter addition) — the
    * warehouse rollup; mixed (depth, width) inputs are an error.
    */
  def cms_union_agg(col: Column): Column =
    aggCol(SketchUnionAgg(e(col), SketchFamily.cms))

  /** Engine-portable export: struct(depth, width, total, cells) — the
    * non-zero counters as plain SQL data (see [[CmsWire]]).
    */
  def cms_export(col: Column): Column =
    GraftShims.column(CmsExport(e(col)))

  /** Rebuild a stored sketch from exported cells; duplicate (d, w) cells
    * fold additively, so unioned exports import to the merged sketch.
    */
  def cms_import(col: Column): Column =
    GraftShims.column(CmsImport(e(col)))

  /** Per-row counter positions for an item — ships alongside [[cms_export]]
    * so engines without the murmur hash can replay point queries.
    */
  def cms_positions(item: Column, depth: Int = 5, width: Int = 2048): Column =
    GraftShims.column(CmsPositions(e(str(item)), depth, width))

  /** Per-dimension (mn, mx) calibration of an embedding corpus in one
    * map-side-combined pass — the range table affine int8 quantization
    * needs (see [[VecMinMaxAgg]]).
    */
  def vec_minmax_agg(col: Column): Column =
    aggCol(VecMinMaxAgg(e(col)))

  /** Affine int8 quantization of a vector against a calibration range
    * table: 1 byte/dim, reconstruction error <= step/2 per dimension.
    */
  def vec_quantize8(vec: Column, ranges: Column): Column =
    GraftShims.column(VecQuantize8(e(vec), e(ranges)))

  /** Reconstruction inverse of [[vec_quantize8]]. */
  def vec_dequantize8(bytes: Column, ranges: Column): Column =
    GraftShims.column(VecDequantize8(e(bytes), e(ranges)))

  /** Greenwald-Khanna quantile summary as a stored BinaryType value (rank
    * error <= relativeError × n): store per-(day, group) sketches once,
    * answer any later percentile at any rollup via [[gk_union_agg]] +
    * [[gk_quantile]] with no rescan. Input cast to double.
    */
  def gk_sketch_agg(col: Column, relativeError: Double = 0.01): Column =
    aggCol(GkSketchAgg(e(col.cast("double")), relativeError))

  /** Merge a column of stored GK summaries into one (lossless, same bound). */
  def gk_union_agg(col: Column): Column =
    aggCol(SketchUnionAgg(e(col), SketchFamily.gk))

  /** Approximate quantile q in [0,1] from a stored GK summary. */
  def gk_quantile(sketch: Column, q: Column): Column =
    GraftShims.column(GkQuantile(e(sketch), e(q.cast("double"))))

  /** Engine-portable export: struct(rel_err, threshold, count, tuples) —
    * the complete GK state as plain SQL data (see [[GkWire]]).
    */
  def gk_export(col: Column): Column =
    GraftShims.column(GkExport(e(col)))

  /** Rebuild a stored summary from exported tuples; inverse of
    * [[gk_export]] (byte-identical), value order enforced.
    */
  def gk_import(col: Column): Column =
    GraftShims.column(GkImport(e(col)))

  /** Engine-portable export: struct(capacity, entries) — the retained
    * Misra-Gries counters as plain SQL data (see [[TopKWire]]).
    */
  def topk_export(col: Column): Column =
    GraftShims.column(TopKExport(e(col)))

  /** Rebuild a stored MG sketch from exported entries; duplicates fold
    * additively with the standard decrement when over capacity.
    */
  def topk_import(col: Column): Column =
    GraftShims.column(TopKImport(e(col)))

  /** KMV bottom-k distinct sketch as a stored BinaryType value: exact below
    * k, RSE ~ 1/sqrt(k-2) beyond, and — unlike HLL — supports NATIVE set
    * operations ([[kmv_jaccard]], [[kmv_intersect_estimate]]) because the
    * retained hashes are a uniform sample of the union. Input cast to
    * string like the HLL family; hash = the `xxhash64` builtin's.
    */
  def kmv_sketch_agg(col: Column, k: Int = 1024): Column =
    aggCol(KmvSketchAgg(e(str(col)), k))

  /** Merge a column of stored KMV sketches into one (bottom-k set union). */
  def kmv_union_agg(col: Column): Column =
    aggCol(SketchUnionAgg(e(col), SketchFamily.kmv))

  /** Distinct-count estimate from a stored KMV sketch. */
  def kmv_estimate(sketch: Column): Column =
    GraftShims.column(KmvEstimate(e(sketch)))

  /** Jaccard |A∩B|/|A∪B| estimate from two KMV sketches (no
    * inclusion-exclusion: the merged bottom-k is a uniform union sample).
    */
  def kmv_jaccard(a: Column, b: Column): Column =
    GraftShims.column(KmvJaccard(e(a), e(b)))

  /** |A ∩ B| estimate from two KMV sketches. */
  def kmv_intersect_estimate(a: Column, b: Column): Column =
    GraftShims.column(KmvIntersectEstimate(e(a), e(b)))

  /** |A \ B| estimate from two KMV sketches (theta-sketch-style a-not-b):
    * union-sample fraction times union estimate, so the error is bounded
    * relative to |A ∪ B| rather than blowing up when the difference is
    * small — the failure mode of HLL inclusion-exclusion.
    */
  def kmv_difference_estimate(a: Column, b: Column): Column =
    GraftShims.column(KmvDifferenceEstimate(e(a), e(b)))

  /** N-way intersection estimate over >= 2 KMV sketches: one union-sample
    * pass instead of the 2^n-1 inclusion-exclusion terms n-way overlap
    * needs on HLL sketches.
    */
  def kmv_intersect_n(sketches: Column*): Column =
    GraftShims.column(KmvIntersectN(sketches.map(e)))

  /** Engine-portable export: struct(k, hash, hashes) — the sketch's bottom-k
    * hashes as plain SQL data in ascending unsigned order (see [[KmvWire]]:
    * the contents are exactly the bottom-k distinct `xxhash64` values of the
    * input, so any xxh64-capable engine can rebuild or extend the sketch).
    */
  def kmv_export(col: Column): Column =
    GraftShims.column(KmvExport(e(col)))

  /** Rebuild a stored KMV sketch from the portable wire struct; inverse of
    * [[kmv_export]], order-insensitive, bottom-k-folding over concatenated
    * exports (union-by-rows imports to the merged sketch).
    */
  def kmv_import(col: Column): Column =
    GraftShims.column(KmvImport(e(col)))

  /** Scale-path variant: Spark's HLL++ (xxHash64-based, see
    * [[HllCardinalityFast]]), bit-identical to `approx_count_distinct(col,
    * rsd)` with rsd = 1.04/sqrt(2^pFor(k)) (HLL/HyperLogLog.py:86). Spark
    * derives its precision as ceil(2·log2(1.106/rsd)), which is pFor(k) + 1:
    * k = 4096 runs m = 8192 registers at 1.04/sqrt(8192) = 1.15% relative
    * standard error, not the parity path's 1.63%. Use when raw throughput
    * or correct mid-range bias tables matter more than bit-parity with the
    * reference (SHA-1 is the parity path's dominant per-row cost). The
    * input is hashed as its own type, not cast to a string.
    */
  def hll_cardinality_fast(col: Column, k: Int = 4096): Column = {
    val m = 1 << graft.hll.HllSketch.pFor(k)
    aggCol(HllCardinalityFast(e(col), 1.04 / math.sqrt(m.toDouble)))
  }

  // ---- SQL registration ----

  private def intArg(ex: Expression, what: String): Int = ex match {
    case Literal(v: Int, IntegerType) => v
    case other if other.foldable =>
      other.eval().asInstanceOf[Number].intValue()
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal int, got $other")
  }

  private def kBits(args: Seq[Expression], name: String): (Int, Int) = {
    val k = if (args.length > 1) intArg(args(1), s"$name k") else 4096
    val bits = if (args.length > 2) intArg(args(2), s"$name bits") else 64
    (k, bits)
  }

  /** Every graft SQL function as (name, builder), which
    * `graft.plans.GraftExtensions` injects into every session.
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "hll_cardinality" -> { (args: Seq[Expression]) =>
      val (k, bits) = kBits(args, "hll_cardinality")
      HllCardinality(PyStrCoerce(args.head), k, bits).toAggregateExpression()
    },
    "hll_sketch_agg" -> { (args: Seq[Expression]) =>
      val (k, bits) = kBits(args, "hll_sketch_agg")
      HllSketchAgg(PyStrCoerce(args.head), k, bits).toAggregateExpression()
    },
    "python_str" -> ((args: Seq[Expression]) => PyStrCoerce(args.head)),
    "hll_union_agg" ->
      ((args: Seq[Expression]) => SketchUnionAgg(args.head, SketchFamily.hll).toAggregateExpression()),
    "hll_estimate" -> ((args: Seq[Expression]) => HllEstimate(args.head)),
    "hll_union" -> ((args: Seq[Expression]) => HllUnion(args(0), args(1))),
    "hll_error" -> ((args: Seq[Expression]) => HllError(args.head)),
    "hll_info" -> ((args: Seq[Expression]) => HllInfo(args.head)),
    "hll_export" -> ((args: Seq[Expression]) => HllExport(args.head)),
    "hll_import" -> ((args: Seq[Expression]) => HllImport(args.head)),
    // PyStrCoerce (not a plain string cast) so numeric keys render the same
    // through the SQL surface as the DataFrame API — a sketch built on one
    // surface must answer lookups from the other
    "approx_top_k_mg" -> { (args: Seq[Expression]) =>
      val k = if (args.length > 1) intArg(args(1), "k") else 10
      val cap = if (args.length > 2) intArg(args(2), "capacity") else 1024
      ApproxTopK(PyStrCoerce(args.head), k, cap).toAggregateExpression()
    },
    "cms_sketch_agg" -> { (args: Seq[Expression]) =>
      val depth = if (args.length > 1) intArg(args(1), "depth") else 5
      val width = if (args.length > 2) intArg(args(2), "width") else 2048
      CmsSketchAgg(PyStrCoerce(args.head), depth, width).toAggregateExpression()
    },
    "cms_query" ->
      ((args: Seq[Expression]) => CmsQuery(args(0), PyStrCoerce(args(1)))),
    "cms_union_agg" ->
      ((args: Seq[Expression]) => SketchUnionAgg(args.head, SketchFamily.cms).toAggregateExpression()),
    "cms_export" -> ((args: Seq[Expression]) => CmsExport(args.head)),
    "cms_import" -> ((args: Seq[Expression]) => CmsImport(args.head)),
    "cms_positions" -> { (args: Seq[Expression]) =>
      val depth = if (args.length > 1) intArg(args(1), "depth") else 5
      val width = if (args.length > 2) intArg(args(2), "width") else 2048
      CmsPositions(PyStrCoerce(args.head), depth, width)
    },
    "vec_minmax_agg" ->
      ((args: Seq[Expression]) => VecMinMaxAgg(args.head).toAggregateExpression()),
    "vec_quantize8" ->
      ((args: Seq[Expression]) => VecQuantize8(args(0), args(1))),
    "vec_dequantize8" ->
      ((args: Seq[Expression]) => VecDequantize8(args(0), args(1))),
    "gk_sketch_agg" -> { (args: Seq[Expression]) =>
      val relErr = if (args.length > 1) {
        require(args(1).foldable, "gk_sketch_agg relativeError must be a literal")
        args(1).eval() match {
          case d: Decimal => d.toDouble // SQL fractional literals are DECIMAL
          case n: Number  => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"gk_sketch_agg relativeError must be numeric, got $other")
        }
      } else 0.01
      GkSketchAgg(Cast(args.head, DoubleType), relErr).toAggregateExpression()
    },
    "gk_union_agg" ->
      ((args: Seq[Expression]) => SketchUnionAgg(args.head, SketchFamily.gk).toAggregateExpression()),
    "gk_quantile" ->
      ((args: Seq[Expression]) => GkQuantile(args(0), Cast(args(1), DoubleType))),
    "gk_export" -> ((args: Seq[Expression]) => GkExport(args.head)),
    "gk_import" -> ((args: Seq[Expression]) => GkImport(args.head)),
    "topk_export" -> ((args: Seq[Expression]) => TopKExport(args.head)),
    "topk_import" -> ((args: Seq[Expression]) => TopKImport(args.head)),
    "topk_sketch_agg" -> { (args: Seq[Expression]) =>
      val cap = if (args.length > 1) intArg(args(1), "capacity") else 1024
      TopKSketchAgg(PyStrCoerce(args.head), cap).toAggregateExpression()
    },
    "topk_union_agg" ->
      ((args: Seq[Expression]) => SketchUnionAgg(args.head, SketchFamily.topk).toAggregateExpression()),
    "kmv_sketch_agg" -> { (args: Seq[Expression]) =>
      val k = if (args.length > 1) intArg(args(1), "k") else 1024
      KmvSketchAgg(PyStrCoerce(args.head), k).toAggregateExpression()
    },
    "kmv_union_agg" ->
      ((args: Seq[Expression]) => SketchUnionAgg(args.head, SketchFamily.kmv).toAggregateExpression()),
    "kmv_estimate" -> ((args: Seq[Expression]) => KmvEstimate(args.head)),
    "kmv_jaccard" -> ((args: Seq[Expression]) => KmvJaccard(args(0), args(1))),
    "kmv_intersect_estimate" ->
      ((args: Seq[Expression]) => KmvIntersectEstimate(args(0), args(1))),
    "kmv_difference_estimate" ->
      ((args: Seq[Expression]) => KmvDifferenceEstimate(args(0), args(1))),
    "kmv_intersect_n" -> ((args: Seq[Expression]) => KmvIntersectN(args)),
    "kmv_export" -> ((args: Seq[Expression]) => KmvExport(args.head)),
    "kmv_import" -> ((args: Seq[Expression]) => KmvImport(args.head)),
    "minhash_signature" -> { (args: Seq[Expression]) =>
      val nh = if (args.length > 1) intArg(args(1), "numHashes") else 64
      val sh = if (args.length > 2) intArg(args(2), "shingleSize") else 3
      MinHashSignature(args.head, nh, sh)
    },
    "simhash64" -> ((args: Seq[Expression]) => SimHash64(args.head)),
    "shingle_hashes" -> { (args: Seq[Expression]) =>
      val sh = if (args.length > 1) intArg(args(1), "shingleSize") else 3
      ShingleHashes(args.head, sh)
    },
    "sorted_jaccard" ->
      ((args: Seq[Expression]) => SortedLongJaccard(args(0), args(1))),
    "winnowing_fingerprint" -> { (args: Seq[Expression]) =>
      val k = if (args.length > 1) intArg(args(1), "kGram") else 8
      val w = if (args.length > 2) intArg(args(2), "window") else 4
      WinnowingFingerprint(args.head, k, w)
    },
    "dot_f" -> ((args: Seq[Expression]) => DotProductF(args(0), args(1))),
    // hrw_shard(key, nShards[, seed]): fast xxh64 HRW sharding; key cast to
    // string for surface parity with the md5 rendezvousShard form
    "hrw_shard" -> { (args: Seq[Expression]) =>
      val n = intArg(args(1), "nShards")
      val seed = if (args.length > 2) intArg(args(2), "seed").toLong else 0L
      HrwShard(Cast(args.head, StringType), n, seed)
    },
    // audio_fingerprint(content): 64-bit energy-delta fingerprint of
    // decoded PCM — container-invariant (WAV/FLAC/OGG-FLAC agree)
    "audio_fingerprint" ->
      ((args: Seq[Expression]) => AudioFingerprint(args.head)),
    "text_stats" -> ((args: Seq[Expression]) => TextStats(args.head)),
    "compression_ratio" ->
      ((args: Seq[Expression]) => CompressionRatio(args.head)),
    "bigram_repetition" ->
      ((args: Seq[Expression]) => BigramRepetition(args.head)),
    "html_to_text" -> ((args: Seq[Expression]) => HtmlToText(args.head)),
    // url_normalize(url): RFC 3986 syntax normalization + tracking-param
    // strip + query sort — the canonical dedup key for crawl captures
    "url_normalize" -> ((args: Seq[Expression]) => UrlNormalize(args.head)),
    // url_resolve(base, ref): RFC 3986 §5 reference resolution — relative
    // hrefs to absolute URIs
    "url_resolve" -> ((args: Seq[Expression]) => UrlResolveExpr(args(0), args(1))),
    // html_outlinks(html, base_url): <a href> targets resolved to absolute
    // http/https URIs in document order — the frontier-growth extractor
    "html_outlinks" -> ((args: Seq[Expression]) => HtmlOutlinks(args(0), args(1))),
    // html_anchors(html, base_url): the same targets WITH anchor text —
    // the anchor-text-index extractor
    "html_anchors" -> ((args: Seq[Expression]) => HtmlAnchors(args(0), args(1))),
    // html_blocks(html): jusText-style block segmentation + link-density
    // measurement; classification stays declarative SQL
    "html_blocks" -> ((args: Seq[Expression]) => HtmlBlocks(args.head)),
    // html_meta(html, base_url): title / meta-description / rel=canonical
    // / meta-robots — the on-page politeness + dedup signals
    "html_meta" -> ((args: Seq[Expression]) => HtmlMeta(args(0), args(1))),
    // robots_allowed(robots_txt, agent, path): RFC 9309 fetch gate
    "robots_allowed" ->
      ((args: Seq[Expression]) => RobotsAllowed(args(0), args(1), args(2))),
    "nfc_normalize" -> ((args: Seq[Expression]) => NfcNormalize(args.head)),
    "repeated_span_stats" ->
      ((args: Seq[Expression]) => RepeatedSpanStats(args.head)),
    // interleave_bits(r1, r2[, r3[, r4]][, bits]): a trailing foldable
    // INTEGER LITERAL (when at least two rank columns precede it) is the bit
    // width — so a literal meant as a third/fourth rank must be wrapped
    // (e.g. `int(3)` via a column or `interleave_bits(x, y, 3, 16)` with an
    // explicit width). Without an explicit width the default is
    // min(16, 63/ranks) so every arity analyzes (4 ranks -> 15 bits);
    // `ORDER BY interleave_bits(x, y)` is the SQL-surface z-order layout key
    "interleave_bits" -> { (args: Seq[Expression]) =>
      val hasBits = args.length > 2 && args.last.foldable &&
        (args.last.dataType == IntegerType || args.last.dataType == LongType)
      val (ranks, bits) =
        if (hasBits) (args.init, intArg(args.last, "bits"))
        else (args, math.min(16, 63 / math.max(1, args.length)))
      InterleaveBits(ranks.map(Cast(_, LongType)), bits)
    })
}
