package graft.oracle

import graft.functions.K
import graft.operators.{Dedup, TextAnalysis}

/** DuckDB oracle SQL, built from the same constants ([[graft.functions.K]])
  * and the same arithmetic trees as the Spark kernel so both engines do
  * bit-identical IEEE-754 work:
  *
  *  - per-doc reductions are left-folds over lists — Spark `aggregate` and
  *    DuckDB `list_reduce` both fold in element order. DuckDB's
  *    `list_reduce` has no init value and seeds from the first element;
  *    that equals Spark's fold from 0 for every fold used here
  *    (addition: 0+x = x; the (a*k+x)%M fold: (0*k+x0)%M = x0 since
  *    x0 < M; least: identity).
  *  - cross-row aggregation (GROUP BY) only ever sees integers, decimals,
  *    or comparison-based MIN/MAX — all order-independent.
  *  - division/sqrt appear in identical expression trees on both sides.
  */
object OracleSql {
  import K._

  private val b2m: Long = B2 % M // colbert position offset multiplier

  /** q95 sequence cap (P3 truncation rule): bounds the learned stack's
    * O(n²) layer-0 pass; shared by the Spark query and the oracle. */
  val q95MaxLen: Int = 64

  /** q96 constant query + pair budget, shared by both sides. */
  val q96Query: String = "spark hash join query plan"
  val q96MaxLen: Int = 64

  /** Normalized token list of a text expression. */
  def toks(text: String): String =
    s"list_filter(string_split_regex(regexp_replace(lower($text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'), w -> w != '')"

  /** Polynomial rolling hash of a token string expression → [0, M). */
  def polyhash(v: String): String =
    s"list_reduce(list_transform(string_split($v, ''), c -> ascii(c)::BIGINT), (a,c) -> (a*31 + c) % $M)"

  /** Token-id list (truncated). */
  def tids(text: String, maxLen: Int = MaxLength): String =
    s"list_transform(list_slice(${toks(text)}, 1, $maxLen), w -> ${polyhash("w")})"

  /** Dense pipeline CTEs over `documents`. `subset` selects the pooled
    * token subset as an expression over `tids0`. Emits CTEs ending in
    * `emb(doc_id, emb)`. */
  private def denseCtes(subset: String, dim: Int, textExpr: String = "text",
                        maxLen: Int = MaxLength): String =
    s"""WITH tok AS (SELECT doc_id, ${tids(textExpr, maxLen)} AS tids0 FROM documents),
sel AS (SELECT doc_id, $subset AS tids FROM tok),
sel2 AS (SELECT doc_id, tids FROM sel WHERE len(tids) > 0),
m AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(tids, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(tids)::DOUBLE / $M.0) * 2.0 - 1.0) AS mn FROM sel2),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)"""

  private def denseSelect(subset: String, dim: Int, textExpr: String = "text",
                          maxLen: Int = MaxLength): String =
    denseCtes(subset, dim, textExpr, maxLen) +
      "\nSELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"

  val q01_dense_embed: String = denseSelect("tids0", Dim)

  /** q32: the "query: " prefix convention folded into the dense pipeline. */
  val q32_prefixed_embed: String = denseSelect("tids0", Dim, "'query: ' || text")

  /** q81: the Qwen3 instruct template (tests/qwen3.rs:67-74 — no space
    * after `Query:`) folded into the dense pipeline. */
  def q81_instruct_embed(task: String): String =
    denseSelect("tids0", Dim,
      s"'Instruct: ' || '$task' || chr(10) || 'Query:' || text")

  /** q82: the learned dense PROJECTION head — y = W·pooledSums in exact
    * int64 (W recomputed from its generating formula; the Spark side
    * reads the same values from the single-file model.safetensors,
    * ProjectionBankSpec pins them equal), l2-normalized directly: the
    * 1/Scale and 1/n factors are common scalars the norm divides out. */
  def q82_dense_proj(dimIn: Int, dimOut: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
sel2 AS (SELECT doc_id, tids FROM tok WHERE len(tids) > 0),
s AS (SELECT doc_id, list_transform(range(0, $dimIn), e -> list_reduce(list_transform(tids, t -> (t*$A + e*$B + $C) % $M), (a,b) -> a+b)) AS sums FROM sel2),
y AS (SELECT doc_id, list_transform(range(0, $dimOut), d ->
  list_reduce(list_transform(range(0, $dimIn), e -> (((d * $dimIn + e + 1) * $B3 + $A3) % 4001 - 2000) * sums[e + 1]), (a,b) -> a+b)::DOUBLE) AS yv FROM s),
nr AS (SELECT doc_id, yv, sqrt(list_reduce(list_transform(yv, v -> v*v), (a,b) -> a+b)) AS nv FROM y),
emb AS (SELECT doc_id, list_transform(yv, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  val q02_cls_embed: String = denseSelect("list_slice(tids0, 1, 1)", Dim)
  val q03_last_embed: String = denseSelect("list_slice(tids0, len(tids0), len(tids0))", Dim)

  /** Sparse extraction: max-over-positions relu'd occurrence score. */
  val q04_sparse_embed: String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tok),
s AS (SELECT doc_id, token_id, ((token_id*$A2 + pos*$B2 + $C2) % $M)::DOUBLE / $M.0 * 2.0 - 1.0 AS s FROM e)
SELECT doc_id, token_id, max(s) AS weight FROM s WHERE s > 0 GROUP BY doc_id, token_id"""

  /** q05: the struct assembly of q04, checked flat — ordinal within the
    * token_id-ascending parallel arrays + the (token_id, weight) pairs. */
  val q05_sparse_struct: String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tok),
s AS (SELECT doc_id, token_id, ((token_id*$A2 + pos*$B2 + $C2) % $M)::DOUBLE / $M.0 * 2.0 - 1.0 AS s FROM e),
w AS (SELECT doc_id, token_id, max(s) AS weight FROM s WHERE s > 0 GROUP BY doc_id, token_id)
SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY token_id) - 1 AS BIGINT) AS idx,
  token_id, weight FROM w"""

  /** q28: BGE-M3 sparse = q05 with special token ids {0,1,2,3} skipped
    * (/root/reference/src/bgem3_embedding/impl.rs:245-246). */
  val q28_bgem3_sparse: String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tok),
s AS (SELECT doc_id, token_id, ((token_id*$A2 + pos*$B2 + $C2) % $M)::DOUBLE / $M.0 * 2.0 - 1.0 AS s FROM e WHERE token_id > 3),
w AS (SELECT doc_id, token_id, max(s) AS weight FROM s WHERE s > 0 GROUP BY doc_id, token_id)
SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY token_id) - 1 AS BIGINT) AS idx,
  token_id, weight FROM w"""

  /** q23: raw-byte image codec → CLIP rescale+normalize (double) →
    * integer quantize → hash projection (dim 16, 8×8×3 CHW = 192 px).
    * Term-for-term mirror of [[graft.operators.ImagePipeline]]: byte i of
    * the UTF-8 text tiles into pixel i; x = b*(1/255);
    * v = (x - mean[c])/std[c]; q = floor(v*1000 + 0.5) + 2000.
    *
    * NOTE q23/q36 — and the VL gates q69/q71/q72/q75 below, which
    * inherit this CTE shape — reconstruct BYTES from per-character
    * `ascii()`, which equals the UTF-8 encoding only for non-empty
    * ASCII text. That is a property of the documents fixture, asserted
    * by the "documents fixture is non-empty ASCII" spec
    * (OperatorsSpec) — if the corpus ever gains non-ASCII or empty
    * rows, all of these oracles must switch to a bona-fide byte
    * extraction. */
  def q23_image_embed(dim: Int): String =
    s"""WITH cst AS (SELECT [0.48145466, 0.4578275, 0.40821073] AS mn, [0.26862954, 0.26130258, 0.27577711] AS sd),
b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents),
qz AS (SELECT doc_id, list_transform(range(0, 192), i ->
  CAST(floor(((bs[(i % len(bs)) + 1]::DOUBLE * (CAST(1 AS DOUBLE)/CAST(255 AS DOUBLE)) - mn[(i // 64) + 1]::DOUBLE) / sd[(i // 64) + 1]::DOUBLE) * 1000.0 + 0.5) AS BIGINT) + 2000) AS qs FROM b, cst),
m AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(qs, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / 192.0 / $M.0) * 2.0 - 1.0) AS mnv FROM qz),
nr AS (SELECT doc_id, mnv, sqrt(list_reduce(list_transform(mnv, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mnv, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""

  /** q23b/q23c: the REAL image chain. The PNG fixture is a lossless
    * round-trip (channel c of pixel (y,x) = byte[(3·(y·8+x)+c) % n]), so
    * the oracle starts from the source bytes and mirrors
    * [[graft.operators.Preprocess]] term for term: separable Catmull-Rom
    * resize 8→4 (horizontal pass held in doubles, vertical pass
    * round+clamped to u8 — weights precomputed HERE with the identical
    * double arithmetic and emitted as round-tripping literals; zero
    * weights skipped, which leaves IEEE sums unchanged), center crop
    * 4→2, CLIP rescale+normalize, quantize, hash projection (12 px). */
  def q23b_image_compose(dim: Int, where: String = ""): String = {
    val side = 8; val rs = 4; val crop = 2
    // taps of one output index of a srcN→dstN pass — same geometry and
    // op order as Preprocess.resample1d, evaluated at SQL-build time
    def taps(srcN: Int, dstN: Int, o: Int): (Seq[(Int, Double)], Double) = {
      val ratio = srcN.toDouble / dstN.toDouble
      val scale = math.max(ratio, 1.0)
      val support = 2.0 * scale
      val center = (o + 0.5) * ratio
      val lo = math.max(0, math.floor(center - support).toInt)
      val hi = math.min(srcN - 1, math.ceil(center + support).toInt)
      val all = (lo to hi).map(i =>
        (i, graft.operators.Preprocess.catmullRom((center - (i + 0.5)) / scale)))
      var ws = 0.0
      all.foreach(t => ws += t._2)
      (all.filter(_._2 != 0.0), ws)
    }
    val off = (rs - crop) / 2 // center-crop offset inside the resized image
    def hExpr(c: Int, y: Int, xo: Int): String = {
      val (ts, ws) = taps(side, rs, xo)
      val s = ts.map { case (x, w) =>
        val idx = 3 * (y * side + x) + c
        s"($w)*bs[(($idx) % len(bs)) + 1]::DOUBLE"
      }.mkString(" + ")
      s"(($s) / ($ws))"
    }
    def pixExpr(c: Int, yo: Int, xo: Int): String = {
      val (ts, ws) = taps(side, rs, yo)
      val s = ts.map { case (y, w) => s"($w)*${hExpr(c, y, xo)}" }.mkString(" + ")
      s"greatest(0, least(255, CAST(floor(((($s) / ($ws))) + 0.5) AS BIGINT)))"
    }
    val mean = graft.operators.ImagePipeline.ClipMean
    val std = graft.operators.ImagePipeline.ClipStd
    val qExprs = for {
      c <- 0 until 3; yo <- 0 until crop; xo <- 0 until crop
    } yield {
      val p = pixExpr(c, yo + off, xo + off)
      s"CAST(floor((($p::DOUBLE * (CAST(1 AS DOUBLE)/CAST(255 AS DOUBLE)) - ${mean(c)}) / ${std(c)}) * 1000.0 + 0.5) AS BIGINT) + 2000"
    }
    val n = 3 * crop * crop
    s"""WITH b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents$where),
qz AS (SELECT doc_id, [${qExprs.mkString(",\n  ")}] AS qs FROM b),
m AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(qs, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / $n.0 / $M.0) * 2.0 - 1.0) AS mnv FROM qz),
nr AS (SELECT doc_id, mnv, sqrt(list_reduce(list_transform(mnv, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mnv, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q23d: the ConvNext dialect — shortest_edge 6 / crop_pct 0.75 ⇒
    * resize (8,8) then center crop (6,6). At ratio 1.0 the Catmull-Rom
    * pass is exactly identity (the only in-support tap is CR(0)=1, CR(±1)
    * = 0, wsum = 1, round+clamp of an integer is itself), so the oracle
    * is pure pixel indexing: cropped(c,y,x) = source(c, y+off, x+off). */
  def q23d_image_convnext(dim: Int): String = {
    val side = 8; val crop = 6
    val off = (side - crop) / 2
    val mean = graft.operators.ImagePipeline.ClipMean
    val std = graft.operators.ImagePipeline.ClipStd
    val qExprs = for {
      c <- 0 until 3; y <- 0 until crop; x <- 0 until crop
    } yield {
      val idx = 3 * ((y + off) * side + (x + off)) + c
      s"CAST(floor(((bs[(($idx) % len(bs)) + 1]::DOUBLE * (CAST(1 AS DOUBLE)/CAST(255 AS DOUBLE)) - ${mean(c)}) / ${std(c)}) * 1000.0 + 0.5) AS BIGINT) + 2000"
    }
    val n = 3 * crop * crop
    s"""WITH b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents),
qz AS (SELECT doc_id, [${qExprs.mkString(",\n  ")}] AS qs FROM b),
m AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(qs, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / $n.0 / $M.0) * 2.0 - 1.0) AS mnv FROM qz),
nr AS (SELECT doc_id, mnv, sqrt(list_reduce(list_transform(mnv, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mnv, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q36: raw PCM16 audio codec — UTF-8 text bytes as little-endian
    * sample pairs, non-overlapping frames of 16, per-frame energy Σs²
    * mod M, then the shared projector. Mirrors
    * [[graft.operators.AudioPipeline]] term-for-term. */
  def q36_audio_embed(frameLen: Int, dim: Int): String =
    s"""WITH b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents),
sm AS (SELECT doc_id, list_transform(range(0, len(bs) // 2), j -> ((bs[2*j + 1] + 256 * bs[2*j + 2] + 32768) % 65536) - 32768) AS s FROM b),
fe AS (SELECT doc_id, list_transform(range(0, len(s) // $frameLen), f ->
  list_reduce(list_transform(range(1, ${frameLen + 1}), i -> s[f*$frameLen + i] * s[f*$frameLen + i]), (a,b) -> a+b) % $M) AS qs FROM sm),
f2 AS (SELECT doc_id, qs FROM fe WHERE len(qs) > 0),
m AS (SELECT doc_id, len(qs)::BIGINT AS n_frames, list_transform(range(0, $dim), d -> (list_reduce(list_transform(qs, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(qs)::DOUBLE / $M.0) * 2.0 - 1.0) AS mnv FROM f2),
nr AS (SELECT doc_id, n_frames, mnv, sqrt(list_reduce(list_transform(mnv, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, n_frames, list_transform(mnv, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, n_frames, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""

  /** q48: video pipeline — the text bytes split into raw 32-byte frames
    * (trailing partial dropped), every second frame sampled, each
    * sampled frame tiled/rescaled/normalized/quantized/projected like
    * q23, then a frame-order mean over the sampled unit vectors and a
    * final renormalize. Mirrors [[graft.operators.VideoPipeline]]
    * term for term (sum folds ride `list(v ORDER BY f)`). */
  def q48_video_embed(frameBytes: Int, stride: Int, dim: Int,
                      where: String = ""): String = {
    val px = frameBytes * 6 // tiled into 8×8×3 = 192 pixels
    s"""WITH cst AS (SELECT [0.48145466, 0.4578275, 0.40821073] AS mn, [0.26862954, 0.26130258, 0.27577711] AS sd),
b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents$where),
meta AS (SELECT doc_id, bs, (len(bs) // $frameBytes)::BIGINT AS nf FROM b),
m2 AS (SELECT * FROM meta WHERE nf > 0),
fr AS (SELECT doc_id, bs, nf, unnest(list_filter(range(0, nf), f -> f % $stride = 0)) AS f FROM m2),
qz AS (SELECT doc_id, nf, f, list_transform(range(0, $px), i ->
  CAST(floor(((bs[(f*$frameBytes + (i % $frameBytes)) + 1]::DOUBLE * (CAST(1 AS DOUBLE)/CAST(255 AS DOUBLE)) - mn[(i // 64) + 1]::DOUBLE) / sd[(i // 64) + 1]::DOUBLE) * 1000.0 + 0.5) AS BIGINT) + 2000) AS qs FROM fr, cst),
m AS (SELECT doc_id, nf, f, list_transform(range(0, $dim), d -> (list_reduce(list_transform(qs, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / $px.0 / $M.0) * 2.0 - 1.0) AS mnv FROM qz),
nr AS (SELECT doc_id, nf, f, mnv, sqrt(list_reduce(list_transform(mnv, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
femb AS (SELECT doc_id, nf, f, list_transform(mnv, x -> x / (nv + 1e-12)) AS emb FROM nr),
dims AS (SELECT doc_id, nf, f, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS d, unnest(emb) AS v FROM femb),
acc AS (SELECT doc_id, nf, d, list_reduce(list(v ORDER BY f), (a,b) -> a+b) AS sv, count(*)::BIGINT AS cnt FROM dims GROUP BY doc_id, nf, d),
vec AS (SELECT doc_id, nf, list(sv / cnt::DOUBLE ORDER BY d) AS mvec FROM acc GROUP BY doc_id, nf),
vn AS (SELECT doc_id, nf, mvec, sqrt(list_reduce(list_transform(mvec, y -> y*y), (a,b) -> a+b)) AS nv FROM vec),
emb AS (SELECT doc_id, nf, list_transform(mvec, x -> x / (nv + 1e-12)) AS emb FROM vn)
SELECT doc_id, nf AS n_frames, ((nf + ${stride - 1}) // $stride)::BIGINT AS n_sampled,
  CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** ColBERT: unit vector per (token, pos ≥ 1), dim 16, doc_id < 100. */
  def q06_colbert(dim: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents WHERE doc_id < 100),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tok),
k AS (SELECT doc_id, pos, token_id + pos*$b2m AS tk FROM e WHERE pos >= 1),
raw AS (SELECT doc_id, pos, list_transform(range(0, $dim), d -> ((tk*$A + d*$B + $C) % $M)::DOUBLE / $M.0 * 2.0 - 1.0) AS rv FROM k),
nv AS (SELECT doc_id, pos, rv, sqrt(list_reduce(list_transform(rv, y -> y*y), (a,b) -> a+b)) AS nrm FROM raw),
v AS (SELECT doc_id, pos, list_transform(rv, x -> x / (nrm + 1e-12)) AS vec FROM nv)
SELECT doc_id, pos, CAST(generate_subscripts(vec, 1) - 1 AS BIGINT) AS dim, unnest(vec) AS val FROM v"""

  /** q39: ColBERT MaxSim — per-doc token-vector lists (q06 construction,
    * collected in position order), doc 0's list as the query, score =
    * Σ over query vectors of max over doc vectors of the dot product. */
  def q39_colbert_maxsim(dim: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents WHERE doc_id < 100),
tk AS (SELECT doc_id, tids FROM tok WHERE len(tids) > 1),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tk),
k AS (SELECT doc_id, pos, token_id + pos*$b2m AS tk FROM e WHERE pos >= 1),
raw AS (SELECT doc_id, pos, list_transform(range(0, $dim), d -> ((tk*$A + d*$B + $C) % $M)::DOUBLE / $M.0 * 2.0 - 1.0) AS rv FROM k),
nv AS (SELECT doc_id, pos, rv, sqrt(list_reduce(list_transform(rv, y -> y*y), (a,b) -> a+b)) AS nrm FROM raw),
v AS (SELECT doc_id, pos, list_transform(rv, x -> x / (nrm + 1e-12)) AS vec FROM nv),
qrows AS (SELECT pos AS qi, vec AS qq FROM v WHERE doc_id = 0),
dots AS (SELECT d.doc_id, q.qi,
  list_reduce(list_transform(range(1, $dim + 1), i -> q.qq[i] * d.vec[i]), (a,b) -> a+b) AS dot
  FROM v d, qrows q),
best AS (SELECT doc_id, qi, max(dot) AS b FROM dots GROUP BY doc_id, qi),
bl AS (SELECT doc_id, list(b ORDER BY qi) AS bs FROM best GROUP BY doc_id)
SELECT doc_id, list_reduce(bs, (a,b) -> a+b) AS score FROM bl"""

  /** Cosine between two float-list expressions (both widened per element),
    * with the reference's zero-norm guard. */
  def cosineSql(a: String, b: String): String = {
    def norm(v: String) =
      s"sqrt(list_reduce(list_transform(list_transform($v, x -> x::DOUBLE), y -> y*y), (a,b) -> a+b))"
    val dot =
      s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (a,b) -> a+b)"
    s"CASE WHEN ${norm(a)} = 0.0 OR ${norm(b)} = 0.0 THEN 0.0 ELSE $dot / (${norm(a)} * ${norm(b)}) END"
  }

  val q07_topk: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ${cosineSql("c.embedding", "q.qv")} AS score
FROM embeddings c, q ORDER BY score DESC, vec_id ASC LIMIT 10"""

  val q08_knn_join: String =
    s"""SELECT qid, vec_id, rnk, score FROM (
SELECT q.vec_id AS qid, c.vec_id AS vec_id, ${cosineSql("c.embedding", "q.embedding")} AS score,
row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosineSql("c.embedding", "q.embedding")} DESC, c.vec_id ASC) AS rnk
FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 8) q) t
WHERE rnk <= 5"""

  /** Rerank: token-set Jaccard of each document against the fixed query. */
  def q09_rerank(query: String): String = {
    val qlit = s"'${query.replace("'", "''")}'"
    s"""WITH qt AS (SELECT list_distinct(${tids(qlit)}) AS q),
d AS (SELECT doc_id, text, list_distinct(${tids("text")}) AS dt FROM documents),
s AS (SELECT doc_id, text,
  len(list_filter(dt, t -> list_contains(q, t)))::BIGINT AS i,
  (len(dt) + len(q) - len(list_filter(dt, t -> list_contains(q, t))))::BIGINT AS u
  FROM d, qt)
SELECT doc_id AS "index", CASE WHEN u = 0 THEN 0.0 ELSE i::DOUBLE / u::DOUBLE END AS score, text AS document
FROM s ORDER BY score DESC, "index" ASC"""
  }

  /** q31b: the backend-routed cross-encoder — pair encoding (query
    * tokens ++ doc tokens under a shared truncation budget, segment ids
    * folded in as +seg·(B2%M)) → mean-scaled dim-0 projector value =
    * the logits[:,0] analogue. Mirrors
    * [[graft.operators.Reranker.rerankBackendAll]] +
    * [[graft.backend.HashingCrossEncoder]] term for term. */
  val q31b_rerank_backend: String =
    s"""WITH q AS (SELECT doc_id AS qid, ${tids("text")} AS qt FROM documents WHERE doc_id < 4),
d AS (SELECT doc_id, ${tids("text")} AS dt FROM documents),
p AS (SELECT qid, doc_id, list_slice(list_concat(qt, dt), 1, $MaxLength) AS ids,
  list_slice(list_concat(list_transform(qt, t -> 0::BIGINT), list_transform(dt, t -> 1::BIGINT)), 1, $MaxLength) AS segs FROM d, q),
c AS (SELECT qid, doc_id, list_transform(range(1, len(ids) + 1), i -> ids[i] + segs[i]*$b2m) AS ct FROM p),
s AS (SELECT qid, doc_id, (list_reduce(list_transform(ct, t -> (t*$A + $C) % $M), (a,b) -> a+b)::DOUBLE / len(ct)::DOUBLE / $M.0) * 2.0 - 1.0 AS score FROM c WHERE len(ct) > 0)
SELECT qid, doc_id AS "index", score FROM s"""

  /** Multi-query rerank: token-set Jaccard of every document against each
    * of the first 4 documents' texts as queries. */
  val q31_rerank_multi: String =
    s"""WITH q AS (SELECT doc_id AS qid, list_distinct(${tids("text")}) AS qt FROM documents WHERE doc_id < 4),
d AS (SELECT doc_id, list_distinct(${tids("text")}) AS dt FROM documents),
s AS (SELECT qid, doc_id,
  len(list_filter(dt, t -> list_contains(qt, t)))::BIGINT AS i,
  (len(dt) + len(qt) - len(list_filter(dt, t -> list_contains(qt, t))))::BIGINT AS u
  FROM d, q)
SELECT qid, doc_id AS "index", CASE WHEN u = 0 THEN 0.0 ELSE i::DOUBLE / u::DOUBLE END AS score FROM s"""

  /** q117: [[graft.operators.Reranker.rerankTopK]] — q31's Jaccard
    * scoring kept to each query's top-k, rank ties by (score DESC,
    * index ASC) = the TopKAgg heap order. */
  def q117_rerank_topk(k: Int): String =
    s"""WITH q AS (SELECT doc_id AS qid, list_distinct(${tids("text")}) AS qt FROM documents WHERE doc_id < 4),
d AS (SELECT doc_id, list_distinct(${tids("text")}) AS dt FROM documents),
s AS (SELECT qid, doc_id,
  len(list_filter(dt, t -> list_contains(qt, t)))::BIGINT AS i,
  (len(dt) + len(qt) - len(list_filter(dt, t -> list_contains(qt, t))))::BIGINT AS u
  FROM d, q),
sc AS (SELECT qid, doc_id, CASE WHEN u = 0 THEN 0.0 ELSE i::DOUBLE / u::DOUBLE END AS score FROM s),
r AS (SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
SELECT qid, doc_id AS "index", rnk, score FROM r WHERE rnk <= $k"""

  val q10_pair_scores: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
list_reduce(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y) AS dot,
${cosineSql("a.embedding", "b.embedding")} AS cosine
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1"""

  val q11_dedup_exact: String =
    s"""SELECT md5(array_to_string(${toks("text")}, ' ')) AS text_hash,
min(doc_id) AS keep_id, count(*) AS dup_count FROM documents GROUP BY 1"""

  /** Shingle list (word n-grams folded mod M) over a tids expression. */
  def shingleList(tidsExpr: String, n: Int): String =
    s"list_transform(range(0, len($tidsExpr) - ${n - 1}), p -> list_reduce(list_slice($tidsExpr, p + 1, p + $n), (a,t) -> (a*31 + t) % $M))"

  private def shingleCtes(n: Int, where: String = ""): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents$where),
sh AS (SELECT DISTINCT doc_id, unnest(${shingleList("tids", n)}) AS shingle FROM tok WHERE len(tids) >= $n)"""

  private def minhashCols(numHashes: Int): String =
    (0 until numHashes).map { i =>
      val (a, b) = Dedup.minhashPerm(i)
      s"min((shingle*$a + $b) % $P32) AS m$i"
    }.mkString(", ")

  def q12_minhash_sigs(numHashes: Int): String =
    shingleCtes(3) +
      s"\nSELECT doc_id, ${minhashCols(numHashes)} FROM sh GROUP BY doc_id"

  private def bandKeySql(b: Int, rowsPerBand: Int): String =
    (b * rowsPerBand until (b + 1) * rowsPerBand)
      .map(i => s"m$i")
      .foldLeft("0")((acc, m) => s"(($acc) * 1000003 + $m) % 911382323007")

  def q13_minhash_neardups(threshold: Double, numHashes: Int, bands: Int,
                           maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String = {
    val rpb = numHashes / bands
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rpb)} AS key FROM sig")
      .mkString(" UNION ALL ")
    shingleCtes(3) + s""",
sig AS (SELECT doc_id, ${minhashCols(numHashes)} FROM sh GROUP BY doc_id),
band0 AS ($bandSelects),
bandok AS (SELECT band, key FROM band0 GROUP BY band, key HAVING count(*) <= $maxBucketSize),
band AS (SELECT band0.* FROM band0 JOIN bandok USING (band, key)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle GROUP BY c.id_a, c.id_b)
SELECT inter.id_a, inter.id_b, i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = inter.id_a JOIN sz sb ON sb.doc_id = inter.id_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= $threshold"""
  }

  /** q124: incremental dedup — batch docs (odd ids) near-dup-checked
    * against the indexed corpus (even ids) via LSH candidates + the
    * signature-overlap Jaccard estimator (matching components / total). */
  def q124_dedup_incremental(threshold: Double, numHashes: Int, bands: Int,
                             maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String = {
    val rpb = numHashes / bands
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rpb)} AS key FROM sig")
      .mkString(" UNION ALL ")
    val matchSum = (0 until numHashes)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    shingleCtes(3) + s""",
sig AS (SELECT doc_id, ${minhashCols(numHashes)} FROM sh GROUP BY doc_id),
band0 AS ($bandSelects),
corpusband0 AS (SELECT * FROM band0 WHERE doc_id % 2 = 0),
bandok AS (SELECT band, key FROM corpusband0 GROUP BY band, key HAVING count(*) <= $maxBucketSize),
corpusband AS (SELECT corpusband0.* FROM corpusband0 JOIN bandok USING (band, key)),
batchband AS (SELECT * FROM band0 WHERE doc_id % 2 = 1),
cand AS (SELECT DISTINCT t.doc_id AS doc_id, c.doc_id AS corpus_id FROM batchband t JOIN corpusband c ON t.band = c.band AND t.key = c.key)
SELECT cand.doc_id, cand.corpus_id, ($matchSum)::DOUBLE / $numHashes.0 AS est_jaccard
FROM cand JOIN sig a ON a.doc_id = cand.doc_id JOIN sig b ON b.doc_id = cand.corpus_id
WHERE ($matchSum)::DOUBLE / $numHashes.0 >= $threshold"""
  }

  /** q135: the streamed dedup-ingest lifecycle ([[graft.streaming
    * .StreamingOps.dedupIngestSink]]) replayed relationally — corpus =
    * doc_id % (nBatches+1) == 0 indexed up front, then batches k =
    * 1..nBatches arrive IN ORDER. Per batch, mirroring the sink:
    *
    *  1. in-batch near-dups: q13's banded-candidates + EXACT-Jaccard
    *     verify, restricted to the batch (its own hub cap); the later id
    *     (id_b) of each pair drops;
    *  2. survivors near-dup-check against the ACCUMULATED corpus (build
    *     corpus hub-capped at build time, appended batches uncapped —
    *     exactly the index's append contract) via the q124 signature-
    *     overlap estimator;
    *  3. both kinds of hits become audit rows (doc_id, dup_of,
    *     similarity, scope);
    *  4. only clean docs join the corpus for batch k+1 — the
    *     self-accumulation that makes cross-batch duplicates visible.
    *
    * Returns the WITH-chain; [[q135_stream_dedup_audit]] /
    * [[q135b_stream_dedup_corpus]] pick the final projection. */
  private def q135Ctes(threshold: Double, numHashes: Int, bands: Int,
                       nBatches: Int, maxBucketSize: Int): String = {
    val rpb = numHashes / bands
    val mod = nBatches + 1
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql(b, rpb)} AS key FROM sig")
      .mkString(" UNION ALL ")
    val matchSum = (0 until numHashes)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val shared = shingleCtes(3) + s""",
sig AS (SELECT doc_id, ${minhashCols(numHashes)} FROM sh GROUP BY doc_id),
band0 AS ($bandSelects),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cb0 AS (SELECT * FROM band0 WHERE doc_id % $mod = 0),
cbok AS (SELECT band, key FROM cb0 GROUP BY band, key HAVING count(*) <= $maxBucketSize),
corpusband AS (SELECT cb0.* FROM cb0 JOIN cbok USING (band, key))"""
    val perBatch = (1 to nBatches).map { k =>
      val accSides = Seq(s"SELECT band, key, doc_id FROM corpusband") ++
        (1 until k).map(j =>
          s"SELECT b.band, b.key, b.doc_id FROM band0 b JOIN clean$j cj ON b.doc_id = cj.doc_id")
      s""",
bb$k AS (SELECT * FROM band0 WHERE doc_id % $mod = $k),
bok$k AS (SELECT band, key FROM bb$k GROUP BY band, key HAVING count(*) <= $maxBucketSize),
bcap$k AS (SELECT bb$k.* FROM bb$k JOIN bok$k USING (band, key)),
bcand$k AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bcap$k a JOIN bcap$k b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
binter$k AS (SELECT c.id_a, c.id_b, count(*) AS i FROM bcand$k c
  JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b),
bpair$k AS (SELECT bi.id_a, bi.id_b, bi.i::DOUBLE / (sa.sz + sb.sz - bi.i)::DOUBLE AS jaccard
  FROM binter$k bi JOIN sz sa ON sa.doc_id = bi.id_a JOIN sz sb ON sb.doc_id = bi.id_b
  WHERE bi.i::DOUBLE / (sa.sz + sb.sz - bi.i)::DOUBLE >= $threshold),
lc$k AS (SELECT doc_id FROM sig WHERE doc_id % $mod = $k
  AND doc_id NOT IN (SELECT id_b FROM bpair$k)),
acc$k AS (${accSides.mkString(" UNION ALL ")}),
ccand$k AS (SELECT DISTINCT t.doc_id, a.doc_id AS corpus_id
  FROM band0 t JOIN lc$k l ON t.doc_id = l.doc_id
  JOIN acc$k a ON t.band = a.band AND t.key = a.key),
cpair$k AS (SELECT c.doc_id, c.corpus_id, ($matchSum)::DOUBLE / $numHashes.0 AS est_jaccard
  FROM ccand$k c JOIN sig a ON a.doc_id = c.doc_id JOIN sig b ON b.doc_id = c.corpus_id
  WHERE ($matchSum)::DOUBLE / $numHashes.0 >= $threshold AND c.doc_id != c.corpus_id),
clean$k AS (SELECT doc_id FROM lc$k WHERE doc_id NOT IN (SELECT doc_id FROM cpair$k))"""
    }.mkString
    shared + perBatch
  }

  /** q135: the streamed sink's full audit table. */
  def q135_stream_dedup_audit(threshold: Double, numHashes: Int, bands: Int,
                              nBatches: Int = 3,
                              maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String = {
    val arms = (1 to nBatches).flatMap { k =>
      Seq(
        s"SELECT id_b AS doc_id, id_a AS dup_of, jaccard AS similarity, 'batch' AS scope FROM bpair$k",
        s"SELECT doc_id, corpus_id AS dup_of, est_jaccard AS similarity, 'corpus' AS scope FROM cpair$k")
    }
    q135Ctes(threshold, numHashes, bands, nBatches, maxBucketSize) +
      "\n" + arms.mkString(" UNION ALL ")
  }

  /** q135b: the final accumulated corpus — the build docs plus every
    * batch's admitted (clean) docs. */
  def q135b_stream_dedup_corpus(threshold: Double, numHashes: Int, bands: Int,
                                nBatches: Int = 3,
                                maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String = {
    val mod = nBatches + 1
    val arms = s"SELECT doc_id FROM sig WHERE doc_id % $mod = 0" +:
      (1 to nBatches).map(k => s"SELECT doc_id FROM clean$k")
    q135Ctes(threshold, numHashes, bands, nBatches, maxBucketSize) +
      "\n" + arms.mkString(" UNION ALL ")
  }

  /** Deduplicated corpus: drop id_b of every near-dup pair. */
  def q34_dedup_corpus(threshold: Double, numHashes: Int, bands: Int): String =
    s"""SELECT d.doc_id FROM documents d WHERE d.doc_id NOT IN
(SELECT id_b FROM (${q13_minhash_neardups(threshold, numHashes, bands)}) p)"""

  /** Corpus-weighted sparse: q04 weights × exact idf ratio N/df. */
  val q40_tfidf_sparse: String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tok),
s AS (SELECT doc_id, token_id, ((token_id*$A2 + pos*$B2 + $C2) % $M)::DOUBLE / $M.0 * 2.0 - 1.0 AS s FROM e),
w AS (SELECT doc_id, token_id, max(s) AS weight FROM s WHERE s > 0 GROUP BY doc_id, token_id),
st AS (SELECT token_id, count(DISTINCT doc_id) AS df FROM e GROUP BY token_id)
SELECT w.doc_id, w.token_id, w.weight, st.df,
  w.weight * ((SELECT count(*) FROM documents)::DOUBLE / st.df::DOUBLE) AS tfidf
FROM w JOIN st ON w.token_id = st.token_id"""

  /** Decontamination: shared-trigram counts between train (id ≥ 100)
    * and eval (id < 100) docs. */
  def q41_contamination(n: Int, minShared: Long): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(${shingleList("tids", n)}) AS shingle FROM tok WHERE len(tids) >= $n),
t AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id >= 100),
ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id < 100)
SELECT t.train_id, ev.eval_id, count(*) AS shared_shingles
FROM t JOIN ev ON t.shingle = ev.shingle
GROUP BY t.train_id, ev.eval_id
HAVING count(*) >= $minShared"""

  /** Raw-text cleaning: tag strip → entity decode (`&amp;` last, the
    * standard unescape order) → space/tab collapse → trim (regex subset
    * interpreted identically by Java and RE2). */
  /** The q42 markup-clean chain over a text expression (strip tags,
    * decode entities `&amp;` last, collapse blanks) — shared with the
    * q111 pipeline. */
  private def cleanedSql(text: String): String = {
    val noTags = s"regexp_replace($text, '<[^>]*>', ' ', 'g')"
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => s"regexp_replace($c, '$e', '$r', 'g')" }
    s"trim(regexp_replace($decoded, '[ \\t]+', ' ', 'g'))"
  }

  val q42_clean_text: String = {
    val collapsed = cleanedSql("text")
    s"""SELECT doc_id, $collapsed AS clean_text, length($collapsed)::BIGINT AS n_chars_clean
FROM documents"""
  }

  /** q111: the whole curation recipe ([[graft.operators.Sampling
    * .curationPipeline]]) — clean → exact-dedup keep-lowest-id →
    * top-`lengthFrac` token-count quantile (ties kept) → per-source cap
    * (q57b window) → per-language stratified rates (q57 filter), each
    * stage the already-gated formulation, chained over the cleaned
    * text. */
  def q111_curation_pipeline(lengthFrac: Double, maxPerSource: Int,
                             rates: Seq[(String, Double)],
                             defaultRate: Double): String = {
    val arms = rates
      .map { case (s0, r) => s"WHEN '$s0' THEN ${graft.operators.Sampling.threshold(r)}" }
      .mkString(" ")
    s"""WITH cl AS (SELECT doc_id, lang, source, ${cleanedSql("text")} AS ct FROM documents),
cc AS (SELECT doc_id, lang, source, md5(array_to_string(${toks("ct")}, ' ')) AS h,
  len(list_filter(string_split_regex(ct, '\\s+'), w -> w != ''))::BIGINT AS n_tokens FROM cl),
keep AS (SELECT min(doc_id) AS kid FROM cc GROUP BY h),
dd AS (SELECT cc.doc_id, cc.lang, cc.source, cc.n_tokens FROM cc JOIN keep ON keep.kid = cc.doc_id),
h2 AS (SELECT n_tokens AS sc, count(*)::BIGINT AS c FROM dd GROUP BY 1),
w2 AS (SELECT sc, sum(c) OVER (ORDER BY sc DESC) AS cum FROM h2),
n2 AS (SELECT sum(c)::BIGINT AS total FROM h2),
thr AS (SELECT max(sc) AS thr FROM w2, n2 WHERE cum >= ceil(total::DOUBLE * $lengthFrac)),
fil AS (SELECT dd.* FROM dd, thr WHERE dd.n_tokens >= thr.thr),
cap AS (SELECT doc_id, lang, source, n_tokens FROM fil
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY $sampleHashSql ASC, doc_id ASC) <= $maxPerSource)
SELECT doc_id, lang, source, n_tokens FROM cap
WHERE $sampleHashSql < (CASE lang $arms ELSE ${graft.operators.Sampling.threshold(defaultRate)} END)"""
  }

  /** Deterministic split buckets: per-bucket doc counts. Mirrors the
    * overflow-safe pmod form of [[TextAnalysis.splitBucket]] (id reduces
    * mod M before the multiply; both moduli non-negative). */
  def q43_split_buckets(nBuckets: Int): String =
    s"""SELECT ((((doc_id % $M + $M) % $M) * $A2 + $C2) % $M) % $nBuckets AS split_bucket,
count(*) AS n_docs, min(doc_id) AS min_id
FROM documents GROUP BY 1"""

  /** q52: chunk embedding — window starts step by stride (stopping once
    * the previous window reaches the stream end), each window's token
    * slice through the dense projector tail (q01's math per chunk). */
  def q52_chunk_embed(budget: Int, overlap: Int, dim: Int): String = {
    val stride = budget - overlap
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
t2 AS (SELECT doc_id, tids FROM tok WHERE len(tids) > 0),
st AS (SELECT doc_id, tids, unnest(list_filter(range(0, len(tids), $stride), s -> s = 0 OR s - $stride + $budget < len(tids))) AS s FROM t2),
ch AS (SELECT doc_id, (s // $stride)::BIGINT AS chunk_id, list_slice(tids, s + 1, s + $budget) AS ct FROM st),
m AS (SELECT doc_id, chunk_id, len(ct)::BIGINT AS n_tokens, list_transform(range(0, $dim), d -> (list_reduce(list_transform(ct, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(ct)::DOUBLE / $M.0) * 2.0 - 1.0) AS mn FROM ch),
nr AS (SELECT doc_id, chunk_id, n_tokens, mn, sqrt(list_reduce(list_transform(mn, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, chunk_id, n_tokens, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, chunk_id, n_tokens, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q45: repetition stats — relational mirror of the narrow RunStats
    * kernel (explode → per-value count → sum/count/max). */
  def q45_repetition_stats(n: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
t2 AS (SELECT doc_id, tids FROM tok WHERE len(tids) > 0),
e AS (SELECT doc_id, unnest(tids) AS t FROM t2),
pt AS (SELECT doc_id, t, count(*) AS c FROM e GROUP BY doc_id, t),
ts AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS distinct_tokens, max(c)::BIGINT AS top_cnt FROM pt GROUP BY doc_id),
sh0 AS (SELECT doc_id, ${shingleList("tids", n)} AS sgl FROM t2),
se AS (SELECT doc_id, unnest(sgl) AS g FROM sh0),
ps AS (SELECT doc_id, g, count(*) AS c FROM se GROUP BY doc_id, g),
ss AS (SELECT doc_id, sum(c)::BIGINT AS n_tri, count(*)::BIGINT AS d_tri FROM ps GROUP BY doc_id)
SELECT ts.doc_id, n_tokens, distinct_tokens, top_cnt AS top_token_cnt,
  top_cnt::DOUBLE / n_tokens::DOUBLE AS top_token_frac,
  COALESCE(n_tri, 0)::BIGINT AS n_trigrams, COALESCE(d_tri, 0)::BIGINT AS distinct_trigrams,
  CASE WHEN COALESCE(n_tri, 0) = 0 THEN 0.0 ELSE (n_tri - d_tri)::DOUBLE / n_tri::DOUBLE END AS dup_trigram_frac
FROM ts LEFT JOIN ss ON ss.doc_id = ts.doc_id"""

  /** q46: PII redaction — identical regex subset both engines; digit
    * runs counted after email redaction, like the operator. */
  val q46_pii_redact: String = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val digits = "[0-9]{9,}"
    s"""WITH aug AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com ref 12345678' || doc_id AS text FROM documents),
ne AS (SELECT doc_id, text, regexp_replace(text, '$email', '<email>', 'g') AS no_email FROM aug)
SELECT doc_id, regexp_replace(no_email, '$digits', '<digits>', 'g') AS redacted_text,
  len(regexp_extract_all(text, '$email'))::BIGINT AS n_emails,
  len(regexp_extract_all(no_email, '$digits'))::BIGINT AS n_digit_runs
FROM ne"""
  }

  /** q47: deterministic concat-and-chunk packing — per pack bucket, an
    * exclusive running token total in id order, cut every `budget`. */
  def q47_pack_sequences(budget: Int, nBuckets: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
t2 AS (SELECT doc_id, least(len(tids), $budget)::BIGINT AS n_tok FROM tok WHERE len(tids) > 0),
b AS (SELECT doc_id, n_tok, ((((doc_id % $M + $M) % $M) * $A2 + $C2) % $M) % $nBuckets AS pack_bucket FROM t2),
c AS (SELECT doc_id, pack_bucket, n_tok,
  COALESCE(sum(n_tok) OVER (PARTITION BY pack_bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok FROM b)
SELECT doc_id, pack_bucket, n_tok, start_tok // $budget AS seq_id, start_tok % $budget AS seq_offset FROM c"""

  /** Per-token corpus stats: total occurrences + document frequency. */
  val q37_term_stats: String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT doc_id, unnest(tids) AS token_id FROM tok)
SELECT token_id, count(*) AS tf, count(DISTINCT doc_id) AS df FROM e GROUP BY token_id"""

  /** Duplicate clusters: `iterations` unrolled rounds of min-label
    * propagation WITH POINTER DOUBLING over the near-dup pair graph.
    * NOT round-for-round with Dedup.duplicateClusters: the impl SEEDS
    * labels at min(own, neighbors) — one pre-applied propagation round
    * riding the node-set aggregate — while this oracle seeds at
    * identity (l0 = own id), so impl@k ≡ oracle@(k+1). The caller
    * derives `iterations` as the impl default + 1 (see `all`); per
    * round: own label ∪ neighbors' labels ∪ label-of-label, min per
    * id. */
  def q38_dup_clusters(threshold: Double, numHashes: Int, bands: Int,
                       iterations: Int): String = {
    // MATERIALIZED: every lI is referenced thrice by round I+1 — without
    // it the planner may inline CTEs and blow the tree up exponentially
    val rounds = (1 to iterations).map { i =>
      s"""l$i AS MATERIALIZED (SELECT id, min(cluster) AS cluster FROM (
  SELECT id, cluster FROM l${i - 1}
  UNION ALL
  SELECT e.d AS id, l.cluster FROM edges e JOIN l${i - 1} l ON l.id = e.s
  UNION ALL
  SELECT a.id, b.cluster FROM l${i - 1} a JOIN l${i - 1} b ON b.id = a.cluster) u GROUP BY id)"""
    }.mkString(",\n")
    s"""WITH pr AS MATERIALIZED (
${q13_minhash_neardups(threshold, numHashes, bands)}
),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b AS s, id_a AS d FROM pr),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS cluster FROM edges),
$rounds
SELECT id, cluster FROM l$iterations"""
  }

  /** q107: semantic clusters ([[graft.operators.Similarity
    * .semanticClusters]]) — mutual-kNN edges (each endpoint in the
    * other's top-(k+1) ranks, self dropped, tie rule score DESC id
    * ASC) labeled by the q38 connected-component rounds. Per-vector
    * norms factor out of the cosine (IEEE-identical: same expressions,
    * same operands). */
  def q107_semantic_clusters(k: Int, iterations: Int): String =
    s"""${semanticClusterCtes(k, iterations)}
SELECT id, cluster FROM l$iterations"""

  /** The q38/q107 CC-round CTE block: l1..l$iterations over `edges`
    * (s, d) seeded from l0 — min-label + label-of-label per round. */
  private def ccRoundsSql(iterations: Int): String =
    (1 to iterations).map { i =>
      s"""l$i AS MATERIALIZED (SELECT id, min(cluster) AS cluster FROM (
  SELECT id, cluster FROM l${i - 1}
  UNION ALL
  SELECT e.d AS id, l.cluster FROM edges e JOIN l${i - 1} l ON l.id = e.s
  UNION ALL
  SELECT a.id, b.cluster FROM l${i - 1} a JOIN l${i - 1} b ON b.id = a.cluster) u GROUP BY id)"""
    }.mkString(",\n")

  /** The shared q107 CTE chain: mutual-kNN edges → CC rounds, ending at
    * `l$iterations` (id, cluster). q108 appends the per-cluster cap. */
  private def semanticClusterCtes(k: Int, iterations: Int): String = {
    val rounds = ccRoundsSql(iterations)
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding,
  sqrt(list_reduce(list_transform(list_transform(embedding, x -> x::DOUBLE), y -> y*y), (a,b) -> a+b)) AS nrm FROM embeddings),
dt AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
  CASE WHEN c.nrm = 0.0 OR q.nrm = 0.0 THEN 0.0 ELSE
    list_reduce(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (a,b) -> a+b) / (c.nrm * q.nrm) END AS score
  FROM v c, v q),
kn AS MATERIALIZED (SELECT qid, nid FROM (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk FROM dt) t
  WHERE rnk <= ${k + 1} AND qid != nid),
pr AS MATERIALIZED (SELECT x.qid AS id_a, x.nid AS id_b FROM kn x JOIN kn y ON y.qid = x.nid AND y.nid = x.qid WHERE x.qid < x.nid),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b AS s, id_a AS d FROM pr),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS cluster FROM edges),
$rounds"""
  }

  /** q116: semantic clusters on the ANN candidate graph
    * ([[graft.operators.Similarity.semanticClustersAnn]]) — the q107
    * chain with candidates restricted to sign-LSH bucket mates
    * (c.bucket = q.bucket, the [[q17_ann_lsh]] bucket rule): top-(k+1)
    * within bucket, self dropped, mutual filter, same CC rounds. */
  def q116_semantic_clusters_ann(dim: Int, nPlanes: Int, k: Int,
                                 iterations: Int): String =
    s"""${semanticClusterAnnCtes(dim, nPlanes, k, iterations)}
SELECT id, cluster FROM l$iterations"""

  /** q119: `Sampling.capPerKey` over
    * [[graft.operators.Similarity.semanticClustersAnn]] — the q108
    * id-hash-lottery cap over the q116 ANN cluster labels: the
    * topic-balancing composition on the scale path. */
  def q119_cluster_balanced_ann(dim: Int, nPlanes: Int, k: Int,
                                iterations: Int, maxN: Int): String =
    s"""${semanticClusterAnnCtes(dim, nPlanes, k, iterations)},
hh AS (SELECT cluster, id, ((((id % $M + $M) % $M) * $A2 + $C2) % $M) AS hv FROM l$iterations),
r AS (SELECT cluster, id, row_number() OVER (PARTITION BY cluster ORDER BY hv ASC, id ASC) AS rnk FROM hh)
SELECT id, cluster FROM r WHERE rnk <= $maxN"""

  /** q120: [[graft.operators.Similarity.semanticClustersAnn]] at its
    * SCALE settings — the q116 chain with more planes (finer bucket
    * split) and every 1-flip probe bucket on the QUERY side (the q17b
    * multi-probe rule) buying the recall back. The gated Spark run
    * also salts the candidate side 4-way; the oracle does not model
    * salt — it is a pure parallelism knob — so this row doubling as
    * the salt-invariance proof is the point. */
  def q120_semantic_clusters_annmp(dim: Int, nPlanes: Int, k: Int,
                                   iterations: Int, probes: Int): String =
    s"""${semanticClusterAnnCtes(dim, nPlanes, k, iterations, probes)}
SELECT id, cluster FROM l$iterations"""

  /** The shared q116/q119/q120 CTE chain, ending in `l{iterations}(id,
    * cluster)` — ANN mutual-kNN labeling over sign-LSH bucket mates;
    * with `probes` > 0 each vector additionally queries the buckets at
    * Hamming distance 1 on its first `probes` planes. */
  private def semanticClusterAnnCtes(dim: Int, nPlanes: Int, k: Int,
                                     iterations: Int, probes: Int = 0): String = {
    val rounds = ccRoundsSql(iterations)
    val qSide = if (probes == 0) "v" else "qp"
    val qpCte = if (probes == 0) "" else {
      val flips = (0 until probes)
        .map(p => s"SELECT vec_id, embedding, nrm, xor(bucket, ${1L << p}) AS bucket FROM v")
        .mkString(" UNION ALL ")
      s"""qp AS (SELECT vec_id, embedding, nrm, bucket FROM v UNION ALL $flips),
"""
    }
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding,
  ${lshBucketSql("embedding", dim, nPlanes)} AS bucket,
  sqrt(list_reduce(list_transform(list_transform(embedding, x -> x::DOUBLE), y -> y*y), (a,b) -> a+b)) AS nrm FROM embeddings),
${qpCte}dt AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
  CASE WHEN c.nrm = 0.0 OR q.nrm = 0.0 THEN 0.0 ELSE
    list_reduce(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (a,b) -> a+b) / (c.nrm * q.nrm) END AS score
  FROM v c JOIN $qSide q ON c.bucket = q.bucket),
kn AS MATERIALIZED (SELECT qid, nid FROM (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk FROM dt) t
  WHERE rnk <= ${k + 1} AND qid != nid),
pr AS MATERIALIZED (SELECT x.qid AS id_a, x.nid AS id_b FROM kn x JOIN kn y ON y.qid = x.nid AND y.nid = x.qid WHERE x.qid < x.nid),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b AS s, id_a AS d FROM pr),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS cluster FROM edges),
$rounds"""
  }

  /** q108: cluster-balanced selection (`Sampling.capPerKey` over
    * [[graft.operators.Similarity.semanticClusters]]) — the q107 labels
    * capped at `maxN` per cluster by the q57b id-hash window (hash ASC,
    * id ASC), hash taken over the member id. */
  def q108_cluster_balanced(k: Int, iterations: Int, maxN: Int): String =
    s"""${semanticClusterCtes(k, iterations)},
hh AS (SELECT cluster, id, ((((id % $M + $M) % $M) * $A2 + $C2) % $M) AS hv FROM l$iterations),
r AS (SELECT cluster, id, row_number() OVER (PARTITION BY cluster ORDER BY hv ASC, id ASC) AS rnk FROM hh)
SELECT id, cluster FROM r WHERE rnk <= $maxN"""

  /** SimHash signature fold: acc*2 + bit over bits high→low; the list is
    * seeded with 0 so DuckDB's init-less reduce starts the fold at 0. */
  private def simhashSig(bits: Int): String = {
    val vote =
      s"list_reduce(list_transform(tids, t -> CASE WHEN ((t*$A2 + b*$B2 + $C2) % $M) % 2 = 1 THEN 1 ELSE -1 END), (x,y) -> x+y)"
    s"list_reduce(list_concat([0::BIGINT], range(${bits - 1}, -1, -1)), (acc, b) -> acc*2 + CASE WHEN $vote > 0 THEN 1 ELSE 0 END)"
  }

  def q14_simhash(bits: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
t2 AS (SELECT doc_id, tids FROM tok WHERE len(tids) > 0)
SELECT doc_id, ${simhashSig(bits)} AS simhash FROM t2"""

  def q15_simhash_neardups(bits: Int, maxDist: Int, bands: Int = 4,
                           maxBucketSize: Int = Int.MaxValue): String = {
    val bandBits = bits / bands
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * bandBits}) % ${1L << bandBits} AS key FROM sig")
      .mkString(" UNION ALL ")
    // hub-bucket cap mirrors Dedup.capBuckets (q13's bandok pattern)
    val capCtes =
      if (maxBucketSize == Int.MaxValue) "band AS (SELECT * FROM band0),"
      else s"""bandok AS (SELECT band, key FROM band0 GROUP BY band, key HAVING count(*) <= $maxBucketSize),
band AS (SELECT band0.* FROM band0 JOIN bandok USING (band, key)),"""
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
t2 AS (SELECT doc_id, tids FROM tok WHERE len(tids) > 0),
sig AS (SELECT doc_id, ${simhashSig(bits)} AS simhash FROM t2),
band0 AS ($bandSelects),
$capCtes
pair AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pair WHERE hamming <= $maxDist"""
  }

  def q16_ngram_jaccard(maxId: Long, threshold: Double): String =
    s"""WITH tok AS (SELECT doc_id, list_distinct(${tids("text")}) AS tids FROM documents WHERE doc_id < $maxId),
tk AS (SELECT DISTINCT doc_id, unnest(tids) AS tok FROM tok),
sz AS (SELECT doc_id, count(*) AS sz FROM tk GROUP BY doc_id),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c JOIN tk x ON x.doc_id = c.id_a JOIN tk y ON y.doc_id = c.id_b AND y.tok = x.tok GROUP BY c.id_a, c.id_b)
SELECT inter.id_a, inter.id_b, i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = inter.id_a JOIN sz sb ON sb.doc_id = inter.id_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= $threshold"""

  /** q110: random projection ([[graft.operators.Similarity
    * .randomProjection]]) — the lshBucketSql plane dots (same affine
    * stream, seed p+7) kept as signed doubles instead of sign bits. */
  def q110_random_projection(dim: Int, outDim: Int): String =
    s"""WITH pr AS (SELECT vec_id, list_transform(range(0, $outDim), p ->
list_reduce(list_transform(range(1, $dim + 1), i -> embedding[i]::DOUBLE * (((((p + 7)::BIGINT*$A + (i-1)*$B + $C) % $M)::DOUBLE / $M.0) * 2.0 - 1.0)), (a,b) -> a+b)) AS proj
FROM embeddings)
SELECT vec_id, CAST(generate_subscripts(proj, 1) - 1 AS BIGINT) AS dim, unnest(proj) AS val FROM pr"""

  /** Sign-LSH bucket over nPlanes pseudo-random hyperplanes. 0 planes
    * = the degenerate single bucket (mirrors LshBucket's empty loop). */
  def lshBucketSql(vecExpr: String, dim: Int, nPlanes: Int): String = {
    def planeDot(p: Int): String =
      s"list_reduce(list_transform(range(1, $dim + 1), i -> $vecExpr[i]::DOUBLE * ((((${p + 7}::BIGINT*$A + (i-1)*$B + $C) % $M)::DOUBLE / $M.0) * 2.0 - 1.0)), (a,b) -> a+b)"
    if (nPlanes == 0) "0"
    else (0 until nPlanes)
      .map(p => s"(CASE WHEN ${planeDot(p)} > 0.0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
  }

  def q17_ann_lsh(dim: Int, nPlanes: Int, k: Int): String =
    s"""WITH cb AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
qb AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM cb WHERE vec_id < 8),
j AS (SELECT qb.qid, cb.vec_id, cb.bucket, ${cosineSql("cb.embedding", "qb.qv")} AS score,
  row_number() OVER (PARTITION BY qb.qid ORDER BY ${cosineSql("cb.embedding", "qb.qv")} DESC, cb.vec_id ASC) AS rnk
  FROM cb JOIN qb ON cb.bucket = qb.bucket)
SELECT qid, vec_id, bucket, rnk, score FROM j WHERE rnk <= $k"""

  /** Multi-probe ANN: each query probes its own bucket plus the nPlanes
    * one-bit-flip neighbors; rank over all probed candidates. */
  def q17b_ann_multiprobe(dim: Int, nPlanes: Int, k: Int): String = {
    val probes = (0 until nPlanes)
      .map(p => s"SELECT qid, qv, xor(bucket, ${1L << p}) AS bucket FROM qb0")
      .mkString(" UNION ALL ")
    s"""WITH cb AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
qb0 AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM cb WHERE vec_id < 8),
probe AS (SELECT qid, qv, bucket FROM qb0 UNION ALL $probes),
j AS (SELECT qb.qid, cb.vec_id, ${cosineSql("cb.embedding", "qb.qv")} AS score,
  row_number() OVER (PARTITION BY qb.qid ORDER BY ${cosineSql("cb.embedding", "qb.qv")} DESC, cb.vec_id ASC) AS rnk
  FROM cb JOIN probe qb ON cb.bucket = qb.bucket)
SELECT qid, vec_id, rnk, score FROM j WHERE rnk <= $k"""
  }

  /** Squared L2 between two list expressions, (a[i]-b[i])² fold. */
  def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)), (x,y) -> x+y)"

  /** IVF-Flat: assign each row to nearest of the first nCells vectors
    * (ties → lower cell), probe nProbe nearest cells per query, rank
    * probed members only. */
  def q17c_ivf_flat(nCells: Int, nProbe: Int, k: Int): String =
    s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, embedding, cell FROM (
  SELECT e.vec_id, e.embedding, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.vec_id AS qid, q.embedding AS qv, c.cell,
    row_number() OVER (PARTITION BY q.vec_id ORDER BY ${l2sqSql("q.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 8) t WHERE rn <= $nProbe),
j AS (SELECT qp.qid, a.vec_id, ${cosineSql("a.embedding", "qp.qv")} AS score,
  row_number() OVER (PARTITION BY qp.qid ORDER BY ${cosineSql("a.embedding", "qp.qv")} DESC, a.vec_id ASC) AS rnk
  FROM assign a JOIN qprobe qp ON a.cell = qp.cell)
SELECT qid, vec_id, rnk, score FROM j WHERE rnk <= $k"""

  /** q49: product quantization — per-subspace argmin codes over the
    * first-nCents codebook, asymmetric distance = subspace-ordered fold
    * of per-subspace squared L2 to the coded centroid, top-k ascending. */
  def q49_pq_ann(dim: Int, m: Int, nCents: Int, k: Int): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE) * ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE)), (x,y) -> x+y)"
    s"""WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < $nCents),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT e.vec_id, s.j, cb.c, ${subL2("e.embedding", "cb.cv", "s.j")} AS d
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
qd AS (SELECT q.qid, en.vec_id, en.j, ${subL2("q.qv", "cb.cv", "en.j")} AS d
  FROM q CROSS JOIN enc en JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist)
SELECT qid, vec_id, rnk, dist FROM rk WHERE rnk <= $k"""
  }

  /** Shared CTE chain for deterministic k-means: cv0 = first-k init,
    * then per iteration: nearest-cell assignment (ORDER BY dist, cell —
    * the NearestCell tie rule), integer-quantized per-(cell, dim) sums
    * (floor(v·S + 0.5) — exact and order-free), centroid =
    * s / (n·S) with empty cells keeping the previous value. Ends with
    * `cv$iterations(cell, cvec)`. Mirrors
    * [[graft.operators.Similarity.trainKmeans]] round for round. */
  private def kmeansCteParts(k: Int, iterations: Int, s9: Long,
                             vecExpr: String = "e.embedding",
                             p: String = "",
                             table: String = "embeddings"): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"${p}cv0 AS (SELECT vec_id AS cell, list_transform($vecExpr, x -> x::DOUBLE) AS cvec FROM $table e WHERE vec_id < $k)")
    for (i <- 1 to iterations) {
      val prev = s"${p}cv${i - 1}"
      parts += s"""${p}a$i AS (SELECT vec_id, vec, cell FROM (
  SELECT e.vec_id, $vecExpr AS vec, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql(s"($vecExpr)", "c.cvec")}, c.cell) AS rn
  FROM $table e CROSS JOIN $prev c) t WHERE rn = 1)"""
      parts += s"""${p}s$i AS (SELECT cell, d, sum(q)::BIGINT AS s, count(*)::BIGINT AS n FROM (
  SELECT cell, CAST(generate_subscripts(vec, 1) - 1 AS BIGINT) AS d,
    CAST(floor(unnest(vec)::DOUBLE * $s9 + 0.5) AS BIGINT) AS q FROM ${p}a$i) t GROUP BY cell, d)"""
      parts += s"""${p}g$i AS (SELECT c.cell, CAST(generate_subscripts(c.cvec, 1) - 1 AS BIGINT) AS d, unnest(c.cvec) AS oldv FROM $prev c)"""
      parts += s"""${p}c$i AS (SELECT g.cell, g.d, COALESCE(s.s::DOUBLE / (s.n * $s9)::DOUBLE, g.oldv) AS val
  FROM ${p}g$i g LEFT JOIN ${p}s$i s ON s.cell = g.cell AND s.d = g.d)"""
      parts += s"""${p}cv$i AS (SELECT cell, list(val ORDER BY d) AS cvec FROM ${p}c$i GROUP BY cell)"""
    }
    parts.toSeq
  }

  private def kmeansCtes(k: Int, iterations: Int, s9: Long): String =
    kmeansCteParts(k, iterations, s9).mkString("WITH ", ",\n", "")

  /** q50: the trained codebook itself, dim-exploded. */
  def q50_kmeans_train(k: Int, iterations: Int, s9: Long = 1000000L): String =
    kmeansCtes(k, iterations, s9) +
      s"\nSELECT cell, d AS dim, val FROM c$iterations"

  /** q50b: q17c's IVF search driven by the trained centroids. */
  def q50b_ivf_trained(k: Int, iterations: Int, nProbe: Int, topK: Int,
                       s9: Long = 1000000L): String =
    kmeansCtes(k, iterations, s9) + s""",
assign AS (SELECT vec_id, embedding, cell FROM (
  SELECT e.vec_id, e.embedding, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cv$iterations c) t WHERE rn = 1),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.vec_id AS qid, q.embedding AS qv, c.cell,
    row_number() OVER (PARTITION BY q.vec_id ORDER BY ${l2sqSql("q.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings q CROSS JOIN cv$iterations c WHERE q.vec_id < 8) t WHERE rn <= $nProbe),
j AS (SELECT qp.qid, a.vec_id, ${cosineSql("a.embedding", "qp.qv")} AS score,
  row_number() OVER (PARTITION BY qp.qid ORDER BY ${cosineSql("a.embedding", "qp.qv")} DESC, a.vec_id ASC) AS rnk
  FROM assign a JOIN qprobe qp ON a.cell = qp.cell)
SELECT qid, vec_id, rnk, score FROM j WHERE rnk <= $topK"""

  /** q51: PQ over per-subspace TRAINED codebooks — one kmeans CTE chain
    * per subspace (prefix j0_..j{m-1}_) over that subspace's slices,
    * then the q49 encode/ADC machinery against the union of the trained
    * books. Element access is direct indexing (embedding[j·sub + i]),
    * matching NearestCell's slice-local accumulation order. */
  def q51_pq_trained(dim: Int, m: Int, kCents: Int, iterations: Int,
                     topK: Int, s9: Long = 1000000L): String = {
    val sub = dim / m
    val perSub = (0 until m).flatMap { j =>
      kmeansCteParts(kCents, iterations, s9,
        s"list_slice(e.embedding, ${j * sub + 1}, ${(j + 1) * sub})", s"j${j}_")
    }
    val bookUnion = (0 until m)
      .map(j => s"SELECT $j AS j, cell, cvec FROM j${j}_cv$iterations")
      .mkString(" UNION ALL ")
    def subDist(vecExpr: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($vecExpr[b.j*$sub + i]::DOUBLE - b.cvec[i]::DOUBLE) * ($vecExpr[b.j*$sub + i]::DOUBLE - b.cvec[i]::DOUBLE)), (x,y) -> x+y)"
    (perSub :+ s"books AS ($bookUnion)").mkString("WITH ", ",\n", "") + s""",
enc AS (SELECT vec_id, j, cell AS code FROM (
  SELECT e.vec_id, b.j, b.cell,
    row_number() OVER (PARTITION BY e.vec_id, b.j ORDER BY ${subDist("e.embedding")}, b.cell) AS rn
  FROM embeddings e CROSS JOIN books b) t WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
qd AS (SELECT q.qid, en.vec_id, en.j, ${subDist("q.qv")} AS d
  FROM q CROSS JOIN enc en JOIN books b ON b.j = en.j AND b.cell = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist)
SELECT qid, vec_id, rnk, dist FROM rk WHERE rnk <= $topK"""
  }

  /** q49b: IVF-PQ — q17c's coarse assignment/probe composed with q49's
    * codes and asymmetric distance, ranking only probed-cell members.
    * `candFilter` (e.g. `"WHERE a.vec_id % 7 != 0"`) excludes rows from
    * the candidate stage only — quantizers stay trained on the full
    * corpus, mirroring a post-build [[graft.operators.VectorIndex
    * .delete]] where deletion never retrains (q126). */
  def q49b_ivf_pq(dim: Int, nCells: Int, nProbe: Int, m: Int,
                  nCentsPq: Int, k: Int, candFilter: String = ""): String =
    s"WITH ${ivfPqCtes(dim, nCells, nProbe, m, nCentsPq, candFilter)}\n" +
      s"SELECT qid, vec_id, rnk, dist FROM rk WHERE rnk <= $k"

  /** The q49b CTE chain (ends at `rk(qid, vec_id, dist, rnk)`) — shared
    * with the q142 hybrid-indexed composition. */
  private def ivfPqCtes(dim: Int, nCells: Int, nProbe: Int, m: Int,
                        nCentsPq: Int, candFilter: String = "",
                        maxQid: Int = 8): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE) * ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE)), (x,y) -> x+y)"
    s"""cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < $nCentsPq),
cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT e.vec_id, s.j, cb.c, ${subL2("e.embedding", "cb.cv", "s.j")} AS d
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $maxQid),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q CROSS JOIN cents c) t WHERE rn <= $nProbe),
cand AS (SELECT qp.qid, qp.qv, a.vec_id FROM assign a JOIN qprobe qp ON a.cell = qp.cell $candFilter),
qd AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qv", "cb.cv", "en.j")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist)"""
  }

  /** q142: hybrid retrieval ENTIRELY from persisted indexes — the
    * IVF-PQ ADC leg (q49b's chain against the vector index) and the
    * BM25 leg (q55b's chain with the index's current-stats weights),
    * each top-`legK`, fused by reciprocal rank exactly as q56
    * (1/(kRrf+rank) summed dense-leg-first, ties → lower doc id). */
  def q142_hybrid_indexed(dim: Int, nCells: Int, nProbe: Int, m: Int,
                          nCentsPq: Int, k1: Double, b: Double,
                          legK: Int, kRrf: Int, k: Int): String = {
    val kr = kRrf.toDouble
    s"""WITH ${ivfPqCtes(dim, nCells, nProbe, m, nCentsPq, maxQid = 4)},
${bm25Ctes(k1, b)},
${bm25SearchCtes(4)},
drk AS (SELECT qid, vec_id AS doc_id, rnk FROM rk WHERE rnk <= $legK),
brk AS (SELECT qid, doc_id, rnk FROM br WHERE rnk <= $legK),
sf AS (SELECT coalesce(d.qid, s.qid) AS qid, coalesce(d.doc_id, s.doc_id) AS doc_id,
  coalesce(1.0 / ($kr + d.rnk::DOUBLE), 0.0) + coalesce(1.0 / ($kr + s.rnk::DOUBLE), 0.0) AS score
  FROM drk d FULL JOIN brk s ON s.qid = d.qid AND s.doc_id = d.doc_id),
fr AS (SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk FROM sf)
SELECT qid, doc_id, rnk, score FROM fr WHERE rnk <= $k"""
  }

  /** q130: RESIDUAL-encoded IVF-PQ ([[graft.operators.Similarity
    * .ivfPqResidual]]) — q49b's machinery with every PQ operand moved
    * into the residual frame: the codebook is rows
    * [nCells, nCells+nCentsPq)'s residuals (past the zero-residual
    * centroid rows), each row encodes `vec − centroid[assigned cell]`, and
    * the query compares as `qv − centroid[probed cell]`. Residuals are
    * double-exact on both engines (float→double cast, then subtraction),
    * so the distances stay bit-identical. */
  def q130_ivfpq_residual(dim: Int, nCells: Int, nProbe: Int, m: Int,
                          nCentsPq: Int, k: Int): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i] - $b[$j*$sub + i]) * ($a[$j*$sub + i] - $b[$j*$sub + i])), (x,y) -> x+y)"
    def resid(v: String, cv: String): String =
      s"list_transform(range(1, ${dim + 1}), i -> $v[i]::DOUBLE - $cv[i]::DOUBLE)"
    s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
resid AS (SELECT a.vec_id, a.cell, ${resid("e.embedding", "c.cvec")} AS rv
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id JOIN cents c ON c.cell = a.cell),
cb AS (SELECT vec_id AS c, rv AS cv FROM resid
  WHERE vec_id >= $nCells AND vec_id < ${nCells + nCentsPq}),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT r.vec_id, s.j, cb.c, ${subL2("r.rv", "cb.cv", "s.j")} AS d
  FROM resid r CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q CROSS JOIN cents c) t WHERE rn <= $nProbe),
qres AS (SELECT qp.qid, qp.cell, ${resid("qp.qv", "c.cvec")} AS qr
  FROM qprobe qp JOIN cents c ON c.cell = qp.cell),
cand AS (SELECT qr.qid, qr.qr, a.vec_id FROM assign a JOIN qres qr ON a.cell = qr.cell),
qd AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qr", "cb.cv", "en.j")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist)
SELECT qid, vec_id, rnk, dist FROM rk WHERE rnk <= $k"""
  }

  /** q166: [[q130_ivfpq_residual]]'s residual-frame ADC widened to
    * k×overfetch candidates, then exact-L2 re-ranked over the raw
    * vectors — the rescored serving search under the residual encode
    * frame (the q125 rescore contract with q130's candidate stage). */
  def q166_ivfpq_residual_rescored(dim: Int, nCells: Int, nProbe: Int, m: Int,
                                   nCentsPq: Int, k: Int, overfetch: Int): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i] - $b[$j*$sub + i]) * ($a[$j*$sub + i] - $b[$j*$sub + i])), (x,y) -> x+y)"
    def resid(v: String, cv: String): String =
      s"list_transform(range(1, ${dim + 1}), i -> $v[i]::DOUBLE - $cv[i]::DOUBLE)"
    s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
resid AS (SELECT a.vec_id, a.cell, ${resid("e.embedding", "c.cvec")} AS rv
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id JOIN cents c ON c.cell = a.cell),
cb AS (SELECT vec_id AS c, rv AS cv FROM resid
  WHERE vec_id >= $nCells AND vec_id < ${nCells + nCentsPq}),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT r.vec_id, s.j, cb.c, ${subL2("r.rv", "cb.cv", "s.j")} AS d
  FROM resid r CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q CROSS JOIN cents c) t WHERE rn <= $nProbe),
qres AS (SELECT qp.qid, qp.cell, ${resid("qp.qv", "c.cvec")} AS qr
  FROM qprobe qp JOIN cents c ON c.cell = qp.cell),
cand AS (SELECT qr.qid, qr.qr, a.vec_id FROM assign a JOIN qres qr ON a.cell = qr.cell),
qd AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qr", "cb.cv", "en.j")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk0 AS (SELECT qid, vec_id,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk0 FROM adist),
wide AS (SELECT qid, vec_id FROM rk0 WHERE rnk0 <= ${k * overfetch}),
ex AS (SELECT w.qid, w.vec_id, ${l2sqSql("q.qv", "e.embedding")} AS dist
  FROM wide w JOIN q ON q.qid = w.qid JOIN embeddings e ON e.vec_id = w.vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM ex)
SELECT qid, vec_id, rnk, dist FROM rk WHERE rnk <= $k"""
  }

  /** q125: q49b's IVF-PQ candidates widened to k×overfetch, then exact-L2
    * re-ranked — the rescored serving search (candidate-sized vector
    * fetch buys back the PQ ordering loss). */
  /** `candFilter` as in [[q49b_ivf_pq]] — q134 composes the delete and
    * allow-set predicates at the candidate stage. */
  def q125_ivfpq_rescored(dim: Int, nCells: Int, nProbe: Int, m: Int,
                          nCentsPq: Int, k: Int, overfetch: Int,
                          candFilter: String = ""): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE) * ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE)), (x,y) -> x+y)"
    s"""WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < $nCentsPq),
cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT e.vec_id, s.j, cb.c, ${subL2("e.embedding", "cb.cv", "s.j")} AS d
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q CROSS JOIN cents c) t WHERE rn <= $nProbe),
cand AS (SELECT qp.qid, qp.qv, a.vec_id FROM assign a JOIN qprobe qp ON a.cell = qp.cell $candFilter),
qd AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qv", "cb.cv", "en.j")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk0 AS (SELECT qid, vec_id,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk0 FROM adist),
wide AS (SELECT qid, vec_id FROM rk0 WHERE rnk0 <= ${k * overfetch}),
ex AS (SELECT w.qid, w.vec_id, ${l2sqSql("q.qv", "e.embedding")} AS dist
  FROM wide w JOIN q ON q.qid = w.qid JOIN embeddings e ON e.vec_id = w.vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM ex)
SELECT qid, vec_id, rnk, dist FROM rk WHERE rnk <= $k"""
  }

  /** q161: INDEX-BACKED semantic clustering ([[graft.operators
    * .VectorIndex.semanticClustersIndexed]]) — the serving-path recall
    * answer for clustering: candidates proposed by the persisted
    * IVF-PQ index (q49b's assign/probe/ADC machinery with queries =
    * the WHOLE corpus), widened to k×overfetch (q125's rescore cut),
    * re-ranked by EXACT cosine (q107's dot/norm chain) to top-(k+1)
    * with self dropped, then the same mutual filter + CC rounds. Self
    * is NOT special-cased: it enters the wide candidate set through
    * its own ADC distance like any row (and drops at the qid != nid
    * filter), exactly as the Spark side does. */
  def q161_clusters_indexed(dim: Int, nCells: Int, nProbe: Int, m: Int,
                            nCentsPq: Int, k: Int, overfetch: Int,
                            iterations: Int): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE) * ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE)), (x,y) -> x+y)"
    val rounds = ccRoundsSql(iterations)
    s"""WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < $nCentsPq),
cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT e.vec_id, s.j, cb.c, ${subL2("e.embedding", "cb.cv", "s.j")} AS d
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT e.vec_id AS qid, e.embedding AS qv, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn <= $nProbe),
cand AS (SELECT qp.qid, qp.qv, a.vec_id FROM assign a JOIN qprobe qp ON a.cell = qp.cell),
qd AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qv", "cb.cv", "en.j")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk0 AS (SELECT qid, vec_id,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk0 FROM adist),
wide AS (SELECT qid, vec_id FROM rk0 WHERE rnk0 <= ${k * overfetch}),
v AS MATERIALIZED (SELECT vec_id, embedding,
  sqrt(list_reduce(list_transform(list_transform(embedding, x -> x::DOUBLE), y -> y*y), (a,b) -> a+b)) AS nrm FROM embeddings),
ex AS (SELECT w.qid, w.vec_id AS nid,
  CASE WHEN c.nrm = 0.0 OR q.nrm = 0.0 THEN 0.0 ELSE
    list_reduce(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (a,b) -> a+b) / (c.nrm * q.nrm) END AS score
  FROM wide w JOIN v q ON q.vec_id = w.qid JOIN v c ON c.vec_id = w.vec_id),
kn AS MATERIALIZED (SELECT qid, nid FROM (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rnk FROM ex) t
  WHERE rnk <= ${k + 1} AND qid != nid),
pr AS MATERIALIZED (SELECT x.qid AS id_a, x.nid AS id_b FROM kn x JOIN kn y ON y.qid = x.nid AND y.nid = x.qid WHERE x.qid < x.nid),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr UNION ALL SELECT id_b AS s, id_a AS d FROM pr),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS cluster FROM edges),
$rounds
SELECT id, cluster FROM l$iterations"""
  }

  /** q129: mean nearest-cell distance ([[graft.operators.VectorIndex
    * .meanCellDist]]) — the drift baseline/score reading. min over the
    * bank is order-free; the per-row double quantizes to a long before
    * the (commutative) sum, so the mean is cross-engine exact. */
  def q129_index_drift(nCells: Int, scale: Long): String =
    s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
d AS (SELECT e.vec_id, min(${l2sqSql("e.embedding", "c.cvec")}) AS dmin
  FROM embeddings e CROSS JOIN cents c GROUP BY e.vec_id)
SELECT count(*)::BIGINT AS n_rows,
  sum(CAST(floor(dmin * $scale + 0.5) AS BIGINT))::DOUBLE / (count(*) * $scale)::DOUBLE AS mean_dist
FROM d"""

  /** q136: the composed drift → retrain → re-encode → swap response
    * (the monthly maintenance path [[graft.operators.VectorIndex
    * .driftScore]] exists to trigger). The corpus is the original
    * embeddings plus a genuinely SHIFTED ingest batch
    * (x·mul + add in exact double arithmetic, ids offset):
    *
    *  - the drift reading = batch mean nearest-cell distance over the
    *    OLD index's build baseline (both via q129's fixed-point mean,
    *    cells = the old index's first-`oldCells` quantizer);
    *  - the response: retrain on the GROWN corpus — Lloyd coarse cells
    *    (q50's integer-quantized chain) + per-subspace trained PQ books
    *    (q51's chains), both over the union table;
    *  - the swap: search runs against the RETRAINED index — q49b's
    *    assign/probe/ADC machinery with every quantizer replaced by the
    *    trained one.
    *
    * Output (qid, vec_id, rnk, dist, drift) — drift constant across
    * rows, so the gate hash-pins the trigger reading AND the retrained
    * search together. */
  def q136_drift_retrain(dim: Int, oldCells: Int, nCells: Int, m: Int,
                         nCentsPq: Int, iterations: Int, nProbe: Int,
                         topK: Int, idOffset: Long = 10000L,
                         mul: String = "2.0", add: String = "1.0",
                         scale: Long = 1000000L,
                         s9: Long = 1000000L): String = {
    val sub = dim / m
    val corpusCte =
      s"""corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + $idOffset, list_transform(embedding, x -> x::DOUBLE * $mul + $add) FROM embeddings)"""
    def meanCte(name: String, vecExpr: String): String =
      s"""$name AS (SELECT sum(CAST(floor(dmin * $scale + 0.5) AS BIGINT))::DOUBLE / (count(*) * $scale)::DOUBLE AS mean
  FROM (SELECT e.vec_id, min(${l2sqSql(s"($vecExpr)", "c.cvec")}) AS dmin
    FROM embeddings e CROSS JOIN dcents c GROUP BY e.vec_id))"""
    val driftCtes = Seq(
      s"dcents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $oldCells)",
      meanCte("dbase", "e.embedding"),
      meanCte("dbatch", s"list_transform(e.embedding, x -> x::DOUBLE * $mul + $add)"),
      "drift AS (SELECT dbatch.mean / dbase.mean AS score FROM dbatch, dbase)")
    val coarse = kmeansCteParts(nCells, iterations, s9, p = "g", table = "corpus")
    val perSub = (0 until m).flatMap { j =>
      kmeansCteParts(nCentsPq, iterations, s9,
        s"list_slice(e.embedding, ${j * sub + 1}, ${(j + 1) * sub})", s"j${j}_",
        table = "corpus")
    }
    val bookUnion = (0 until m)
      .map(j => s"SELECT $j AS j, cell, cvec FROM j${j}_cv$iterations")
      .mkString(" UNION ALL ")
    def subDist(vecExpr: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($vecExpr[b.j*$sub + i]::DOUBLE - b.cvec[i]::DOUBLE) * ($vecExpr[b.j*$sub + i]::DOUBLE - b.cvec[i]::DOUBLE)), (x,y) -> x+y)"
    (Seq(corpusCte) ++ driftCtes ++ coarse ++ perSub :+ s"books AS ($bookUnion)")
      .mkString("WITH ", ",\n", "") + s""",
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM corpus e CROSS JOIN gcv$iterations c) t WHERE rn = 1),
enc AS (SELECT vec_id, j, cell AS code FROM (
  SELECT e.vec_id, b.j, b.cell,
    row_number() OVER (PARTITION BY e.vec_id, b.j ORDER BY ${subDist("e.embedding")}, b.cell) AS rn
  FROM corpus e CROSS JOIN books b) t WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q CROSS JOIN gcv$iterations c) t WHERE rn <= $nProbe),
cand AS (SELECT qp.qid, qp.qv, a.vec_id FROM assign a JOIN qprobe qp ON a.cell = qp.cell),
qd AS (SELECT ca.qid, ca.vec_id, b.j, ${subDist("ca.qv")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN books b ON b.j = en.j AND b.cell = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk AS (SELECT qid, vec_id, dist,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist)
SELECT qid, vec_id, rnk, dist, (SELECT score FROM drift) AS drift
FROM rk WHERE rnk <= $topK"""
  }

  /** q140: windowed drift readings ([[graft.streaming.StreamingOps
    * .driftScoreStream]]) — window k holds the rows with
    * `vec_id % nWins = k`; per window, q129's fixed-point mean
    * nearest-cell distance ÷ the whole-corpus build baseline. */
  def q140_stream_drift_windows(nCells: Int, nWins: Int,
                                scale: Long = 1000000L): String =
    s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
d AS (SELECT e.vec_id, min(${l2sqSql("e.embedding", "c.cvec")}) AS dmin
  FROM embeddings e CROSS JOIN cents c GROUP BY e.vec_id),
q AS (SELECT vec_id % $nWins AS win, CAST(floor(dmin * $scale + 0.5) AS BIGINT) AS qd FROM d),
base AS (SELECT sum(qd)::DOUBLE / (count(*) * $scale)::DOUBLE AS mean FROM q)
SELECT win::BIGINT AS win, count(*)::BIGINT AS n_rows,
  (sum(qd)::DOUBLE / (count(*) * $scale)::DOUBLE) / (SELECT mean FROM base) AS drift
FROM q GROUP BY win"""

  /** q138: SemDeDup's serving form ([[graft.operators.VectorIndex
    * .semanticDups]]) — the index holds rows < `split`; each batch row
    * (≥ split) proposes its ADC top-`k` corpus neighbors (q49b's
    * machinery with the corpus restricted to the indexed slice), and
    * ONLY those pairs take the exact-cosine ≥ threshold verdict.
    * Output (vec_id, corpus_id, cosine). */
  def q138_semantic_ingest_dups(dim: Int, nCells: Int, nProbe: Int, m: Int,
                                nCentsPq: Int, k: Int, split: Long,
                                threshold: Double): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE) * ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE)), (x,y) -> x+y)"
    val cos = cosineSql("ce.embedding", "be.embedding")
    s"""WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < $nCentsPq),
cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $split),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM corpus e CROSS JOIN cents c) t WHERE rn = 1),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT e.vec_id, s.j, cb.c, ${subL2("e.embedding", "cb.cv", "s.j")} AS d
  FROM corpus e CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id >= $split),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q CROSS JOIN cents c) t WHERE rn <= $nProbe),
cand AS (SELECT qp.qid, qp.qv, a.vec_id FROM assign a JOIN qprobe qp ON a.cell = qp.cell),
qd AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qv", "cb.cv", "en.j")} AS d
  FROM cand ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd GROUP BY qid, vec_id),
rk AS (SELECT qid, vec_id,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist)
SELECT r.qid AS vec_id, r.vec_id AS corpus_id, $cos AS cosine
FROM rk r JOIN embeddings be ON be.vec_id = r.qid JOIN embeddings ce ON ce.vec_id = r.vec_id
WHERE r.rnk <= $k AND $cos >= $threshold AND r.qid != r.vec_id"""
  }

  /** q139: the streamed semantic-ingest lifecycle ([[graft.streaming
    * .StreamingOps.semanticIngestSink]]) replayed relationally — rows
    * < `split` indexed up front, the rest arriving as `nBatches` ordered
    * micro-batches keyed `vec_id % nBatches`. Per batch, mirroring the
    * sink: within-batch sign-LSH + exact-cosine drops (q33's machinery,
    * batch-local buckets and cap), survivors take the q138 ADC-top-k +
    * exact-cosine verdict against the ACCUMULATED admitted corpus, and
    * clean rows join the corpus for the next batch. Encoding is
    * admission-independent (saved quantizers), so assign/enc compute
    * once over all rows; only the candidate set accumulates. */
  private def q139Ctes(dim: Int, nCells: Int, nProbe: Int, m: Int,
                       nCentsPq: Int, k: Int, split: Long, threshold: Double,
                       nBatches: Int, nPlanes: Int,
                       maxBucketSize: Int): String = {
    val sub = dim / m
    def subL2(a: String, b: String, j: String): String =
      s"list_reduce(list_transform(range(1, ${sub + 1}), i -> ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE) * ($a[$j*$sub + i]::DOUBLE - $b[$j*$sub + i]::DOUBLE)), (x,y) -> x+y)"
    val shared = s"""WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < $nCentsPq),
cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
sub AS (SELECT unnest(range(0, $m)) AS j),
dd AS (SELECT e.vec_id, s.j, cb.c, ${subL2("e.embedding", "cb.cv", "s.j")} AS d
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cb),
enc AS (SELECT vec_id, j, c AS code FROM (
  SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM dd) t
  WHERE rn = 1),
buck AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket
  FROM embeddings WHERE vec_id >= $split)"""
    val perBatch = (0 until nBatches).map { kk =>
      val accSides = Seq(s"SELECT vec_id FROM embeddings WHERE vec_id < $split") ++
        (0 until kk).map(j => s"SELECT vec_id FROM clean$j")
      val bcos = cosineSql("a.embedding", "b.embedding")
      val ccos = cosineSql("ce.embedding", "be.embedding")
      s""",
bb$kk AS (SELECT * FROM buck WHERE vec_id % $nBatches = $kk),
bok$kk AS (SELECT bucket FROM bb$kk GROUP BY bucket HAVING count(*) <= $maxBucketSize),
bcap$kk AS (SELECT bb$kk.* FROM bb$kk JOIN bok$kk USING (bucket)),
bpair$kk AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $bcos AS cosine
  FROM bcap$kk a JOIN bcap$kk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE $bcos >= $threshold),
lc$kk AS (SELECT vec_id FROM embeddings WHERE vec_id >= $split AND vec_id % $nBatches = $kk
  AND vec_id NOT IN (SELECT id_b FROM bpair$kk)),
acc$kk AS (${accSides.mkString(" UNION ALL ")}),
q$kk AS (SELECT e.vec_id AS qid, e.embedding AS qv FROM embeddings e JOIN lc$kk l ON e.vec_id = l.vec_id),
qprobe$kk AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM q$kk q CROSS JOIN cents c) t WHERE rn <= $nProbe),
cand$kk AS (SELECT qp.qid, qp.qv, a.vec_id FROM assign a
  JOIN acc$kk ac ON ac.vec_id = a.vec_id
  JOIN qprobe$kk qp ON a.cell = qp.cell),
qd$kk AS (SELECT ca.qid, ca.vec_id, en.j, ${subL2("ca.qv", "cb.cv", "en.j")} AS d
  FROM cand$kk ca JOIN enc en ON en.vec_id = ca.vec_id JOIN cb ON cb.c = en.code),
adist$kk AS (SELECT qid, vec_id, list_reduce(list(d ORDER BY j), (x,y) -> x+y) AS dist
  FROM qd$kk GROUP BY qid, vec_id),
rk$kk AS (SELECT qid, vec_id,
  row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk FROM adist$kk),
cpair$kk AS (SELECT r.qid, r.vec_id AS corpus_id, $ccos AS cosine
  FROM rk$kk r JOIN embeddings be ON be.vec_id = r.qid JOIN embeddings ce ON ce.vec_id = r.vec_id
  WHERE r.rnk <= $k AND $ccos >= $threshold AND r.qid != r.vec_id),
clean$kk AS (SELECT vec_id FROM lc$kk WHERE vec_id NOT IN (SELECT qid FROM cpair$kk))"""
    }.mkString
    shared + perBatch
  }

  /** q139: the streamed semantic sink's full audit table. */
  def q139_stream_semantic_ingest(dim: Int, nCells: Int, nProbe: Int, m: Int,
                                  nCentsPq: Int, k: Int, split: Long,
                                  threshold: Double, nBatches: Int = 3,
                                  nPlanes: Int = 16,
                                  maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String = {
    val arms = (0 until nBatches).flatMap { kk =>
      Seq(
        s"SELECT id_b AS vec_id, id_a AS dup_of, cosine AS similarity, 'batch' AS scope FROM bpair$kk",
        s"SELECT qid AS vec_id, corpus_id AS dup_of, cosine AS similarity, 'corpus' AS scope FROM cpair$kk")
    }
    q139Ctes(dim, nCells, nProbe, m, nCentsPq, k, split, threshold,
      nBatches, nPlanes, maxBucketSize) + "\n" + arms.mkString(" UNION ALL ")
  }

  /** q139b: the final accumulated index contents. */
  def q139b_stream_semantic_corpus(dim: Int, nCells: Int, nProbe: Int, m: Int,
                                   nCentsPq: Int, k: Int, split: Long,
                                   threshold: Double, nBatches: Int = 3,
                                   nPlanes: Int = 16,
                                   maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String = {
    val arms = s"SELECT vec_id FROM embeddings WHERE vec_id < $split" +:
      (0 until nBatches).map(kk => s"SELECT vec_id FROM clean$kk")
    q139Ctes(dim, nCells, nProbe, m, nCentsPq, k, split, threshold,
      nBatches, nPlanes, maxBucketSize) + "\n" + arms.mkString(" UNION ALL ")
  }

  /** Embedding-cosine near-dups: same-bucket self-join + cosine gate,
    * hub buckets above the cap skipped (mirrors the operator's guard). */
  def q33_embedding_neardups(dim: Int, nPlanes: Int, threshold: Double,
                             maxBucketSize: Int = Dedup.DefaultMaxBucketSize): String =
    s"""WITH b0 AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
ok AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= $maxBucketSize),
b AS (SELECT b0.* FROM b0 JOIN ok USING (bucket))
SELECT a.vec_id AS id_a, c.vec_id AS id_b, ${cosineSql("a.embedding", "c.embedding")} AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ${cosineSql("a.embedding", "c.embedding")} >= $threshold"""

  /** SemDeDup: first-nCells coarse assignment (q17c's argmin rule),
    * within-cell pairs by exact cosine, hub cells above the cap skipped. */
  def q63_semdedup(nCells: Int, threshold: Double,
                   maxCellSize: Int = Dedup.DefaultMaxBucketSize): String =
    s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec FROM embeddings WHERE vec_id < $nCells),
assign AS (SELECT vec_id, embedding, cell FROM (
  SELECT e.vec_id, e.embedding, c.cell,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.cell) AS rn
  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
ok AS (SELECT cell FROM assign GROUP BY cell HAVING count(*) <= $maxCellSize),
b AS (SELECT a.* FROM assign a JOIN ok USING (cell))
SELECT x.vec_id AS id_a, y.vec_id AS id_b, ${cosineSql("x.embedding", "y.embedding")} AS cosine
FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
WHERE ${cosineSql("x.embedding", "y.embedding")} >= $threshold"""

  /** Bigram LM score: corpus bigram/context counts over the rolling
    * shingle hashes, per-position conditional probability quantized to
    * floor(p·S + 0.5) BEFORE the per-doc sum (commutative longs — the
    * trainKmeans trick), mean = sum / (n·S). */
  def q64_bigram_lm(s9: Long = 1000000000L): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
base AS (SELECT doc_id, tids FROM tok WHERE len(tids) >= 2),
sh AS (SELECT doc_id, ${shingleList("tids", 2)} AS sgl, tids FROM base),
pos AS (SELECT doc_id, CAST(generate_subscripts(sgl, 1) - 1 AS BIGINT) AS p, unnest(sgl) AS s2, tids FROM sh),
pos2 AS (SELECT doc_id, p, s2, tids[CAST(p AS INT) + 1] % $M AS s1 FROM pos),
c2 AS (SELECT s2, count(*)::BIGINT AS n2 FROM pos2 GROUP BY s2),
c1 AS (SELECT s1, count(*)::BIGINT AS n1 FROM pos2 GROUP BY s1),
qq AS (SELECT pos2.doc_id, CAST(floor(c2.n2::DOUBLE / c1.n1::DOUBLE * $s9 + 0.5) AS BIGINT) AS qv
  FROM pos2 JOIN c2 ON c2.s2 = pos2.s2 JOIN c1 ON c1.s1 = pos2.s1)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
  sum(qv)::DOUBLE / (count(*)::BIGINT * $s9)::DOUBLE AS lm_score
FROM qq GROUP BY doc_id"""

  /** Shared CTE chain for the OLS quality regressor (q159/q159b):
    * TextNorm-equivalent features, q64's quantized lm label, exact
    * HUGEINT normal-equation moments, Cramer's rule in doubles with
    * the operation order of [[graft.operators.TextAnalysis.olsSolve]]
    * term for term. */
  private def olsCtes(yScale: Long, s9: Long = 1000000000L): String = {
    val stop = inList(graft.operators.TextAnalysis.stopwords)
    s"""tok0 AS (SELECT doc_id, ${toks("text")} AS tk FROM documents),
feat AS (SELECT doc_id, len(tk)::BIGINT AS w, len(list_filter(tk, t -> t IN $stop))::BIGINT AS s FROM tok0 WHERE len(tk) > 0),
ltok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
lbase AS (SELECT doc_id, tids FROM ltok WHERE len(tids) >= 2),
lsh AS (SELECT doc_id, ${shingleList("tids", 2)} AS sgl, tids FROM lbase),
lpos AS (SELECT doc_id, CAST(generate_subscripts(sgl, 1) - 1 AS BIGINT) AS p, unnest(sgl) AS s2, tids FROM lsh),
lpos2 AS (SELECT doc_id, p, s2, tids[CAST(p AS INT) + 1] % $M AS s1 FROM lpos),
lc2 AS (SELECT s2, count(*)::BIGINT AS n2 FROM lpos2 GROUP BY s2),
lc1 AS (SELECT s1, count(*)::BIGINT AS n1 FROM lpos2 GROUP BY s1),
lqq AS (SELECT lpos2.doc_id, CAST(floor(lc2.n2::DOUBLE / lc1.n1::DOUBLE * $s9 + 0.5) AS BIGINT) AS qv
  FROM lpos2 JOIN lc2 ON lc2.s2 = lpos2.s2 JOIN lc1 ON lc1.s1 = lpos2.s1),
lbl AS (SELECT doc_id, CAST(floor((sum(qv)::DOUBLE / (count(*)::BIGINT * $s9)::DOUBLE) * $yScale + 0.5) AS BIGINT) AS y FROM lqq GROUP BY doc_id),
rows0 AS (SELECT f.doc_id, f.w, f.s, l.y FROM feat f JOIN lbl l USING (doc_id)),
mom AS (SELECT count(*)::BIGINT AS n,
  sum(w::HUGEINT) AS swm, sum(s::HUGEINT) AS ssm,
  sum((w*w)::HUGEINT) AS swwm, sum((w*s)::HUGEINT) AS swsm, sum((s*s)::HUGEINT) AS sssm,
  sum(y::HUGEINT) AS sym, sum((w*y)::HUGEINT) AS swym, sum((s*y)::HUGEINT) AS ssym FROM rows0),
sol AS (SELECT n, n::DOUBLE AS a1, swm::DOUBLE AS a2, ssm::DOUBLE AS a3,
  swwm::DOUBLE AS m22, swsm::DOUBLE AS m23, sssm::DOUBLE AS m33,
  sym::DOUBLE AS y1, swym::DOUBLE AS y2, ssym::DOUBLE AS y3 FROM mom),
beta AS (SELECT n,
  (y1*(m22*m33 - m23*m23) - a2*(y2*m33 - y3*m23) + a3*(y2*m23 - y3*m22)) /
  (a1*(m22*m33 - m23*m23) - a2*(a2*m33 - a3*m23) + a3*(a2*m23 - a3*m22)) AS b0,
  (a1*(y2*m33 - y3*m23) - y1*(a2*m33 - a3*m23) + a3*(a2*y3 - a3*y2)) /
  (a1*(m22*m33 - m23*m23) - a2*(a2*m33 - a3*m23) + a3*(a2*m23 - a3*m22)) AS b1,
  (a1*(m22*y3 - m23*y2) - a2*(a2*y3 - a3*y2) + y1*(a2*m23 - a3*m22)) /
  (a1*(m22*m33 - m23*m23) - a2*(a2*m33 - a3*m23) + a3*(a2*m23 - a3*m22)) AS b2
  FROM sol)"""
  }

  /** q159: the fitted coefficients, one row. */
  def q159_quality_ols(yScale: Long): String =
    s"""WITH ${olsCtes(yScale)}
SELECT n, b0, b1, b2 FROM beta"""

  /** q159b: top-k |residual| outliers under the fitted regressor. */
  def q159b_ols_outliers(yScale: Long, k: Int): String =
    s"""WITH ${olsCtes(yScale)}
SELECT r.doc_id, r.w AS n_words, r.s AS stops, r.y AS y_q,
  b.b0 + b.b1*r.w::DOUBLE + b.b2*r.s::DOUBLE AS pred,
  r.y::DOUBLE - (b.b0 + b.b1*r.w::DOUBLE + b.b2*r.s::DOUBLE) AS residual
FROM rows0 r CROSS JOIN beta b
ORDER BY abs(r.y::DOUBLE - (b.b0 + b.b1*r.w::DOUBLE + b.b2*r.s::DOUBLE)) DESC, r.doc_id ASC LIMIT $k"""

  /** Hard negatives: q08's ranked kNN, rank window [lo, hi] below the
    * margin of each query's rank-1 score. */
  def q65_hard_negatives(lo: Int, hi: Int, margin: Double): String =
    s"""WITH j AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id, ${cosineSql("c.embedding", "q.embedding")} AS score,
  row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosineSql("c.embedding", "q.embedding")} DESC, c.vec_id ASC) AS rnk
  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q),
cand AS (SELECT qid, vec_id, rnk, score FROM j WHERE rnk <= $hi),
best AS (SELECT qid, score AS b FROM cand WHERE rnk = 1)
SELECT c.qid, c.vec_id, c.rnk, c.score FROM cand c JOIN best b2 USING (qid)
WHERE c.rnk >= $lo AND c.score <= b2.b * $margin"""

  /** √n temperature mixture weights: per-source counts, Σ√n folded in
    * source order (the operator's sorted-struct fold), targets floored. */
  val q66_mixture_weights: String =
    s"""WITH counts AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
z AS (SELECT list_reduce(list(sqrt(n_docs::DOUBLE) ORDER BY source), (x,y) -> x+y) AS z,
  sum(n_docs)::BIGINT AS total FROM counts)
SELECT c.source, c.n_docs, sqrt(c.n_docs::DOUBLE) / z.z AS weight,
  CAST(floor(sqrt(c.n_docs::DOUBLE) / z.z * z.total::DOUBLE) AS BIGINT) AS target_docs
FROM counts c CROSS JOIN z"""

  /** Shared CTEs for scalar (int8) quantization: per-dim corpus min/max
    * (`mm`), then codes/dequant mirror [[graft.operators.Quantize]]
    * term-for-term: code = floor((v-mn)/(mx-mn)*255 + 0.5), deq =
    * mn + code·((mx-mn)/255); constant dims code 0 / dequant mn. */
  private val sqMmCte: String =
    s"""mm AS (SELECT d, min(v) AS mn, max(v) AS mx FROM (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d, unnest(embedding)::DOUBLE AS v FROM embeddings) t GROUP BY d)"""

  val q53_sq_codes: String =
    s"""WITH $sqMmCte,
e AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d, unnest(embedding)::DOUBLE AS v FROM embeddings)
SELECT e.vec_id, e.d AS dim,
  CASE WHEN mm.mx > mm.mn THEN CAST(floor((e.v - mm.mn) / (mm.mx - mm.mn) * 255.0 + 0.5) AS BIGINT) ELSE 0 END AS code
FROM e JOIN mm ON mm.d = e.d"""

  def q53b_sq_search(dim: Int, k: Int): String =
    s"""WITH $sqMmCte,
mml AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm),
deq AS (SELECT vec_id, list_transform(range(1, ${dim + 1}), i ->
  CASE WHEN mxs[i] > mns[i]
    THEN mns[i] + floor((embedding[i]::DOUBLE - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5) * ((mxs[i] - mns[i]) / 255.0)
    ELSE mns[i] END) AS dv FROM embeddings, mml),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
j AS (SELECT q.qid, d.vec_id, ${cosineSql("d.dv", "q.qv")} AS score,
  row_number() OVER (PARTITION BY q.qid ORDER BY ${cosineSql("d.dv", "q.qv")} DESC, d.vec_id ASC) AS rnk
  FROM deq d, q)
SELECT qid, vec_id, rnk, score FROM j WHERE rnk <= $k"""

  /** One packed 32-bit signature word: bit j of word w set iff
    * v_{32w+j} > 0 — the unrolled sum [[graft.operators.Quantize.binarySig]]
    * builds, term for term. */
  private def binWordSql(w: Int, dim: Int, vecExpr: String = "embedding"): String =
    (0 until 32).filter(j => w * 32 + j < dim).map { j =>
      s"(CASE WHEN $vecExpr[${w * 32 + j + 1}]::DOUBLE > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private def binSigCte(dim: Int): String = {
    val nWords = (dim + 31) / 32
    val words = (0 until nWords).map(w => s"(${binWordSql(w, dim)})::BIGINT").mkString(", ")
    s"s AS (SELECT vec_id, [$words] AS sig FROM embeddings)"
  }

  def q54_binary_sig(dim: Int): String = {
    val nWords = (dim + 31) / 32
    val arms = (0 until nWords)
      .map(w => s"SELECT vec_id, $w::BIGINT AS word, (${binWordSql(w, dim)})::BIGINT AS bits FROM embeddings")
      .mkString(" UNION ALL ")
    arms
  }

  /** Hamming distance fold over the packed words (0-seeded reduce). */
  private def hammingSql(a: String, b: String, nWords: Int): String =
    s"list_reduce(list_concat([0::BIGINT], list_transform(range(1, ${nWords + 1}), i -> CAST(bit_count(xor($a[i], $b[i])) AS BIGINT))), (x,y) -> x+y)"

  def q54b_hamming_topk(dim: Int, k: Int): String = {
    val nWords = (dim + 31) / 32
    s"""WITH ${binSigCte(dim)},
q AS (SELECT vec_id AS qid, sig AS qsig FROM s WHERE vec_id < 8),
j AS (SELECT q.qid, s.vec_id, ${hammingSql("s.sig", "q.qsig", nWords)} AS h FROM s, q),
r AS (SELECT qid, vec_id, h, row_number() OVER (PARTITION BY qid ORDER BY h ASC, vec_id ASC) AS rnk FROM j)
SELECT qid, vec_id, rnk, h AS hamming FROM r WHERE rnk <= $k"""
  }

  def q54c_binary_rescored(dim: Int, nCandidates: Int, k: Int): String = {
    val nWords = (dim + 31) / 32
    s"""WITH ${binSigCte(dim)},
q AS (SELECT vec_id AS qid, sig AS qsig FROM s WHERE vec_id < 8),
j AS (SELECT q.qid, s.vec_id, ${hammingSql("s.sig", "q.qsig", nWords)} AS h FROM s, q),
cand AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY h ASC, vec_id ASC) AS rnk FROM j) t
  WHERE rnk <= $nCandidates),
qq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
sc AS (SELECT c.qid, c.vec_id, ${cosineSql("e.embedding", "qq.qv")} AS score,
  row_number() OVER (PARTITION BY c.qid ORDER BY ${cosineSql("e.embedding", "qq.qv")} DESC, c.vec_id ASC) AS rnk
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN qq ON qq.qid = c.qid)
SELECT qid, vec_id, rnk, score FROM sc WHERE rnk <= $k"""
  }

  /** BM25 CTE chain ending in `bw(doc_id, token_id, tf, df, weight)` —
    * mirrors [[graft.operators.FullText.bm25DocWeightsTokens]] term for
    * term: integer tf/df/dl/n_docs, exact-rational saturation, and the
    * one transcendental (ln) snapped to the 2^-24 grid on both engines.
    * All doubles interpolate from the SAME Scala values the operator
    * uses (Double.toString round-trips). */
  /** `corpusWhere` (e.g. `"WHERE doc_id % 7 != 0"`) restricts the CORPUS
    * side only — `btok` stays whole so the query CTEs (`bq`) still read
    * every doc's text, mirroring a post-build [[graft.operators
    * .FullTextIndex.removeDocs]] where removal re-derives the statistics
    * over the surviving corpus (q141b). */
  private def bm25Ctes(k1: Double, b: Double, corpusWhere: String = ""): String = {
    val s = graft.operators.FullText.IdfScale
    val k1p1 = k1 + 1.0
    val oneMb = 1.0 - b
    s"""btok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
btokc AS (SELECT * FROM btok $corpusWhere),
be AS (SELECT doc_id, len(tids)::BIGINT AS dl, unnest(tids) AS token_id FROM btokc),
btf AS (SELECT doc_id, token_id, count(*)::BIGINT AS tf, max(dl) AS dl FROM be GROUP BY doc_id, token_id),
bst AS (SELECT token_id, count(*)::BIGINT AS df FROM btf GROUP BY token_id),
bnd AS (SELECT count(*)::BIGINT AS n_docs, sum(len(tids))::BIGINT AS total_len FROM btokc),
bw AS (SELECT btf.doc_id, btf.token_id, btf.tf, bst.df,
  (floor(ln(((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0) * $s + 0.5) / $s)
  * (tf::DOUBLE * $k1p1) / (tf::DOUBLE + $k1 * ($oneMb + $b * (dl::DOUBLE / (total_len::DOUBLE / n_docs::DOUBLE)))) AS weight
  FROM btf JOIN bst USING (token_id), bnd)"""
  }

  /** BM25 search CTEs (query terms → ranked results `br`), appended
    * after [[bm25Ctes]]. The (qid, doc) score is the fixed-point sum
    * [[graft.operators.FullText.ScoreScale]] defines: floor(w·2^35+0.5)
    * summed as integers (exact, order-independent on both engines —
    * the weights themselves are bit-identical, so the snapped longs
    * are too), then /2^35 (≤ 2^49, exact in double). */
  private def bm25SearchCtes(maxQid: Int): String = {
    val s = graft.operators.FullText.ScoreScale
    s"""bq AS (SELECT DISTINCT qid, token_id FROM (
  SELECT doc_id AS qid, unnest(tids) AS token_id FROM btok WHERE doc_id < $maxQid) t),
bj AS (SELECT bq.qid, bw.doc_id, bw.token_id, bw.weight FROM bw JOIN bq USING (token_id)),
bs AS (SELECT qid, doc_id, sum(CAST(floor(weight * $s + 0.5) AS BIGINT))::DOUBLE / $s AS score FROM bj GROUP BY qid, doc_id),
br AS (SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk FROM bs)"""
  }

  def q55_bm25_weights(k1: Double, b: Double): String =
    s"""WITH ${bm25Ctes(k1, b)}
SELECT doc_id, token_id, tf, df, weight FROM bw"""

  def q55b_bm25_topk(k1: Double, b: Double, k: Int,
                     corpusWhere: String = ""): String =
    s"""WITH ${bm25Ctes(k1, b, corpusWhere)},
${bm25SearchCtes(4)}
SELECT qid, doc_id, rnk, score FROM br WHERE rnk <= $k"""

  /** Hybrid RRF: dense cosine top-`legK` + BM25 top-`legK`, fused by
    * 1/(kRrf+rank) in fixed leg order (dense first — the Spark sum's
    * argument order), top-`k` per query. */
  def q56_hybrid_rrf(dim: Int, k1: Double, b: Double,
                     legK: Int, kRrf: Int, k: Int): String = {
    val kr = kRrf.toDouble
    denseCtes("tids0", dim) +
      s""",
dq AS (SELECT doc_id AS qid, emb AS qv FROM emb WHERE doc_id < 4),
dj AS (SELECT dq.qid, emb.doc_id, ${cosineSql("emb.emb", "dq.qv")} AS s FROM emb, dq),
drk AS (SELECT qid, doc_id, rnk FROM (
  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id ASC) AS rnk FROM dj) t
  WHERE rnk <= $legK),
${bm25Ctes(k1, b)},
${bm25SearchCtes(4)},
brk AS (SELECT qid, doc_id, rnk FROM br WHERE rnk <= $legK),
sf AS (SELECT coalesce(d.qid, s.qid) AS qid, coalesce(d.doc_id, s.doc_id) AS doc_id,
  coalesce(1.0 / ($kr + d.rnk::DOUBLE), 0.0) + coalesce(1.0 / ($kr + s.rnk::DOUBLE), 0.0) AS score
  FROM drk d FULL JOIN brk s ON s.qid = d.qid AND s.doc_id = d.doc_id),
fr AS (SELECT qid, doc_id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk FROM sf)
SELECT qid, doc_id, rnk, score FROM fr WHERE rnk <= $k"""
  }

  /** The sampling id-hash, [[graft.operators.Sampling.sampleHash]]'s
    * overflow-safe pmod form (same stream as the q43 split hash). */
  private val sampleHashSql: String =
    s"((((doc_id % $M + $M) % $M) * $A2 + $C2) % $M)"

  /** q109/q109b: exact top-quantile selection by whitespace-token count
    * ([[graft.operators.Sampling.quantileThreshold]]/[[graft.operators
    * .Sampling.topFraction]]). The threshold is the first score bucket
    * (descending) whose running count reaches k = ceil(frac·N); both
    * engines compute k from the same IEEE double product. q109 keeps
    * all boundary ties; q109b ranks the boundary bucket by the q57b
    * id-hash (ASC, id ASC) and keeps the first b = k − |strictly above|. */
  private def quantileCtes(frac: Double): String =
    s"""WITH t AS (SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))::BIGINT AS n_tokens FROM documents),
h AS (SELECT n_tokens AS sc, count(*)::BIGINT AS c FROM t GROUP BY 1),
w AS (SELECT sc, c, sum(c) OVER (ORDER BY sc DESC) AS cum FROM h),
n AS (SELECT sum(c)::BIGINT AS total FROM h)"""

  def q109_quantile_filter(frac: Double): String =
    s"""${quantileCtes(frac)},
thr AS (SELECT max(sc) AS thr FROM w, n WHERE cum >= ceil(total::DOUBLE * $frac))
SELECT t.doc_id, t.n_tokens FROM t, thr WHERE t.n_tokens >= thr.thr"""

  def q109b_top_fraction(frac: Double): String =
    s"""${quantileCtes(frac)},
bd AS (SELECT w.sc, (ceil(total::DOUBLE * $frac) - (w.cum - w.c))::BIGINT AS b FROM w, n WHERE w.cum >= ceil(total::DOUBLE * $frac) ORDER BY w.sc DESC LIMIT 1),
above AS (SELECT t.doc_id, t.n_tokens FROM t, bd WHERE t.n_tokens > bd.sc),
bnd AS (SELECT t.doc_id, t.n_tokens FROM t, bd WHERE t.n_tokens = bd.sc
  QUALIFY row_number() OVER (ORDER BY $sampleHashSql ASC, doc_id ASC) <= bd.b)
SELECT doc_id, n_tokens FROM above UNION ALL SELECT doc_id, n_tokens FROM bnd"""

  /** q127: offset-binned sequence packing ([[graft.operators.Sampling
    * .packByOffset]]) — per-shard token stream cut every `budget`
    * tokens, each doc labeled with the window its first token falls in.
    * Pure window cumsum, so the mirror is the same cumsum. */
  def q127_pack_offset(budget: Long, nShards: Int): String =
    s"""WITH t AS (SELECT doc_id, doc_id % $nShards AS shard,
  len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))::BIGINT AS tok
FROM documents),
c AS (SELECT doc_id, shard, tok,
  sum(tok) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cend FROM t)
SELECT doc_id, shard::BIGINT AS shard,
  CAST(floor((cend - tok)::DOUBLE / $budget) AS BIGINT) AS pack,
  tok AS n_tokens
FROM c"""

  /** q128: contiguous greedy packing ([[graft.operators.Sampling
    * .packGreedyFirstFit]]) — the sequential first-fit recurrence
    * replayed as a linear recursive CTE, one doc per shard per
    * iteration (iterations = max docs per shard). */
  def q128_pack_greedy(budget: Long, nShards: Int): String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, doc_id % $nShards AS shard,
  len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))::BIGINT AS tok,
  row_number() OVER (PARTITION BY doc_id % $nShards ORDER BY doc_id) AS rn
FROM documents),
g AS (
  SELECT doc_id, shard, rn, tok, 0::BIGINT AS pack, tok AS used FROM t WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.shard, t.rn, t.tok,
    CASE WHEN g.used > 0 AND g.used + t.tok > $budget THEN g.pack + 1 ELSE g.pack END AS pack,
    CASE WHEN g.used > 0 AND g.used + t.tok > $budget THEN t.tok ELSE g.used + t.tok END AS used
  FROM g JOIN t ON t.shard = g.shard AND t.rn = g.rn + 1)
SELECT doc_id, shard::BIGINT AS shard, pack, tok AS n_tokens FROM g"""

  /** q131: pack-level stats over the greedy packing ([[graft.operators
    * .Sampling.packStats]]) — q128's recurrence aggregated to
    * (shard, pack) with exact long token sums and the fill ratio. */
  def q131_pack_stats(budget: Long, nShards: Int): String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, doc_id % $nShards AS shard,
  len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))::BIGINT AS tok,
  row_number() OVER (PARTITION BY doc_id % $nShards ORDER BY doc_id) AS rn
FROM documents),
g AS (
  SELECT doc_id, shard, rn, tok, 0::BIGINT AS pack, tok AS used FROM t WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.shard, t.rn, t.tok,
    CASE WHEN g.used > 0 AND g.used + t.tok > $budget THEN g.pack + 1 ELSE g.pack END AS pack,
    CASE WHEN g.used > 0 AND g.used + t.tok > $budget THEN t.tok ELSE g.used + t.tok END AS used
  FROM g JOIN t ON t.shard = g.shard AND t.rn = g.rn + 1)
SELECT shard::BIGINT AS shard, pack, count(*)::BIGINT AS n_docs,
  sum(tok)::BIGINT AS pack_tokens,
  sum(tok)::DOUBLE / $budget AS fill_ratio
FROM g GROUP BY shard, pack"""

  def q57_stratified_sample(rates: Seq[(String, Double)],
                            defaultRate: Double): String = {
    val arms = rates
      .map { case (s0, r) => s"WHEN '$s0' THEN ${graft.operators.Sampling.threshold(r)}" }
      .mkString(" ")
    s"""SELECT doc_id, lang FROM documents
WHERE $sampleHashSql < (CASE lang $arms ELSE ${graft.operators.Sampling.threshold(defaultRate)} END)"""
  }

  def q57b_cap_per_source(maxN: Int): String =
    s"""WITH hh AS (SELECT source, doc_id, $sampleHashSql AS hv FROM documents),
r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source ORDER BY hv ASC, doc_id ASC) AS rnk FROM hh)
SELECT source, doc_id FROM r WHERE rnk <= $maxN"""

  /** Greedy MMR unrolled to `k` SQL stages — each stage recomputes
    * every remaining candidate's penalty as max-cosine over ALL picks
    * so far (order-independent max ≡ the kernel's running max), scores
    * λ·rel − (1−λ)·pen with the same doubles, and picks by
    * (score DESC, id ASC) ≡ the kernel's strict-> earliest-id rule.
    * Stage 1 keeps the literal − (1−λ)·0.0 term so the score doubles
    * match [[graft.functions.MmrKernel.select]] bit-for-bit. */
  /** The greedy-MMR stage chain over a preceding CTE `c(qid, $id, rel,
    * vec)`: emits p1/sel1/picks1/rem1 then pen/sc/p/sel/picks/rem for
    * stages 2..k (see [[q58_mmr_rerank]]'s docstring for the
    * bit-match rationale). Callers append the sel-union. */
  private def mmrStagesSql(id: String, k: Int, lambda: Double): String = {
    val lam = lambda
    val oml = 1.0 - lambda
    val sb = new StringBuilder
    sb.append(s"""p1 AS (SELECT qid, $id, rel, vec, $lam*rel - $oml*0.0 AS score FROM (SELECT c.*, row_number() OVER (PARTITION BY qid ORDER BY $lam*rel - $oml*0.0 DESC, $id ASC) AS rn FROM c) t WHERE rn = 1),
sel1 AS (SELECT qid, $id, 1::BIGINT AS rnk, score FROM p1),
picks1 AS (SELECT qid, $id, vec FROM p1),
rem1 AS (SELECT c.* FROM c WHERE NOT EXISTS (SELECT 1 FROM p1 WHERE p1.qid = c.qid AND p1.$id = c.$id))""")
    for (s <- 2 to k) {
      val r = s - 1
      sb.append(s""",
pen$s AS (SELECT r.qid, r.$id, max(${cosineSql("r.vec", "p.vec")}) AS pen FROM rem$r r JOIN picks$r p ON p.qid = r.qid GROUP BY r.qid, r.$id),
sc$s AS (SELECT r.qid, r.$id, r.rel, r.vec, $lam*r.rel - $oml*pn.pen AS score FROM rem$r r JOIN pen$s pn ON pn.qid = r.qid AND pn.$id = r.$id),
p$s AS (SELECT qid, $id, rel, vec, score FROM (SELECT sc$s.*, row_number() OVER (PARTITION BY qid ORDER BY score DESC, $id ASC) AS rn FROM sc$s) t WHERE rn = 1),
sel$s AS (SELECT qid, $id, $s::BIGINT AS rnk, score FROM p$s),
picks$s AS (SELECT qid, $id, vec FROM picks$r UNION ALL SELECT qid, $id, vec FROM p$s),
rem$s AS (SELECT r.* FROM rem$r r WHERE NOT EXISTS (SELECT 1 FROM p$s WHERE p$s.qid = r.qid AND p$s.$id = r.$id))""")
    }
    sb.toString
  }

  def q58_mmr_rerank(legK: Int, k: Int, lambda: Double): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4),
j AS (SELECT q.qid, e.vec_id, ${cosineSql("e.embedding", "q.qv")} AS rel FROM embeddings e, q),
c0 AS (SELECT qid, vec_id, rel FROM (SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id ASC) AS rn FROM j) t WHERE rn <= $legK),
c AS (SELECT c0.qid, c0.vec_id, c0.rel, e.embedding AS vec FROM c0 JOIN embeddings e ON e.vec_id = c0.vec_id),
${mmrStagesSql("vec_id", k, lambda)}
""" + (1 to k).map(s => s"SELECT qid, vec_id, rnk, score FROM sel$s").mkString(" UNION ALL ")

  /** q112: the retrieval-side capstone ([[graft.operators.Sampling]]'s
    * q111 is the curation side) — chunk the corpus (q52's windows),
    * embed chunks and queries through the same dense chain, cosine
    * top-`legK` per query over a PACKED chunk key (doc_id·pack +
    * chunk_id — tie order ≡ (doc_id, chunk_id) lexicographic since
    * chunk_id < pack), then the q58 greedy-MMR stages diversify to
    * `k`. */
  /** The shared q112 prefix: chunk embeddings `cp(cid, emb)` (packed
    * key) and query embeddings `qe(qid, qv)` through the same dense
    * chain. */
  private def ragCtes(budget: Int, overlap: Int, dim: Int, pack: Long): String = {
    val stride = budget - overlap
    s"""WITH ctok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
ct2 AS (SELECT doc_id, tids FROM ctok WHERE len(tids) > 0),
cst AS (SELECT doc_id, tids, unnest(list_filter(range(0, len(tids), $stride), s -> s = 0 OR s - $stride + $budget < len(tids))) AS s FROM ct2),
cch AS (SELECT doc_id, (s // $stride)::BIGINT AS chunk_id, list_slice(tids, s + 1, s + $budget) AS ctd FROM cst),
cm AS (SELECT doc_id, chunk_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(ctd, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(ctd)::DOUBLE / $M.0) * 2.0 - 1.0) AS mn FROM cch),
cnr AS (SELECT doc_id, chunk_id, mn, sqrt(list_reduce(list_transform(mn, y -> y*y), (a,b) -> a+b)) AS nv FROM cm),
cp AS (SELECT doc_id * $pack + chunk_id AS cid, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM cnr),
qtok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents WHERE doc_id < 4),
qt2 AS (SELECT doc_id, tids FROM qtok WHERE len(tids) > 0),
qm AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(tids, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(tids)::DOUBLE / $M.0) * 2.0 - 1.0) AS mn FROM qt2),
qnr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, y -> y*y), (a,b) -> a+b)) AS nv FROM qm),
qe AS (SELECT doc_id AS qid, list_transform(mn, x -> x / (nv + 1e-12)) AS qv FROM qnr)"""
  }

  private def ragTail(k: Int, lambda: Double, pack: Long): String =
    s"""${mmrStagesSql("cid", k, lambda)},
allsel AS (${(1 to k).map(s => s"SELECT qid, cid, rnk, score FROM sel$s").mkString(" UNION ALL ")})
SELECT qid, (cid // $pack)::BIGINT AS doc_id, (cid % $pack)::BIGINT AS chunk_id, rnk, score FROM allsel"""

  def q112_rag_pipeline(budget: Int, overlap: Int, dim: Int,
                        legK: Int, k: Int, lambda: Double,
                        pack: Long = 1024L): String =
    s"""${ragCtes(budget, overlap, dim, pack)},
j AS (SELECT q.qid, e.cid, ${cosineSql("e.emb", "q.qv")} AS rel FROM cp e, qe q),
c0 AS (SELECT qid, cid, rel FROM (SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn FROM j) t WHERE rn <= $legK),
c AS (SELECT c0.qid, c0.cid, c0.rel, e.emb AS vec FROM c0 JOIN cp e ON e.cid = c0.cid),
${ragTail(k, lambda, pack)}"""

  /** q112b: the same retrieval recipe on the IVF scale path — q17c's
    * first-nCells-centroid assignment and nProbe probing over the
    * packed chunk key replace the brute candidate leg. */
  def q112b_rag_ivf(budget: Int, overlap: Int, dim: Int,
                    nCells: Int, nProbe: Int,
                    legK: Int, k: Int, lambda: Double,
                    pack: Long = 1024L): String =
    s"""${ragCtes(budget, overlap, dim, pack)},
cents AS (SELECT cid AS cell, emb AS cvec FROM cp WHERE cid < $nCells),
assign AS (SELECT cid, emb, cell FROM (
  SELECT e.cid, e.emb, c.cell,
    row_number() OVER (PARTITION BY e.cid ORDER BY ${l2sqSql("e.emb", "c.cvec")}, c.cell) AS rn
  FROM cp e CROSS JOIN cents c) t WHERE rn = 1),
qprobe AS (SELECT qid, qv, cell FROM (
  SELECT q.qid, q.qv, c.cell,
    row_number() OVER (PARTITION BY q.qid ORDER BY ${l2sqSql("q.qv", "c.cvec")}, c.cell) AS rn
  FROM qe q CROSS JOIN cents c) t WHERE rn <= $nProbe),
jj AS (SELECT qp.qid, a.cid, ${cosineSql("a.emb", "qp.qv")} AS rel,
  row_number() OVER (PARTITION BY qp.qid ORDER BY ${cosineSql("a.emb", "qp.qv")} DESC, a.cid ASC) AS rn
  FROM assign a JOIN qprobe qp ON a.cell = qp.cell),
c0 AS (SELECT qid, cid, rel FROM jj WHERE rn <= $legK),
c AS (SELECT c0.qid, c0.cid, c0.rel, e.emb AS vec FROM c0 JOIN cp e ON e.cid = c0.cid),
${ragTail(k, lambda, pack)}"""

  /** BPE-training CTE chain: `w0` (word counts), `s0..sN` (boundary-
    * encoded segmentations), `m0..m{k}` (per-round argmax merges) —
    * [[graft.operators.TokenizerTrain.trainBpeMerges]] unrolled. Words
    * encode as '//'-joined symbol strings ('//a//b//'), and a round
    * applies its merge as a single non-overlapping left-to-right
    * replace of '/l//r/' with '/lr/': the pattern takes the INNER slash
    * of each symbol boundary and the replacement restores it, so
    * back-to-back occurrences still merge ("aaaa" → (aa)(aa) — the
    * trailing boundary a naive single-space encoding would consume
    * stays available), while the outer slash keeps `l`/`r` from
    * matching the suffix/prefix of a longer symbol. Left-to-right
    * non-overlapping replace ≡ the engine's greedy-left fold. */
  def bpeMergeCtes(n: Int): String = {
    val rounds = (0 until n).map { k =>
      s"""y$k AS (SELECT cnt, list_filter(string_split(seq,'/'), x -> x != '') AS syms FROM s$k),
p$k AS (SELECT struct_extract(z,1) AS l, struct_extract(z,2) AS r, sum(cnt)::BIGINT AS cnt FROM (
  SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z FROM y$k WHERE len(syms) >= 2) GROUP BY 1, 2),
m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
s${k + 1} AS (SELECT word, s.cnt, replace(seq, '/' || m.l || '//' || m.r || '/', '/' || m.l || m.r || '/') AS seq FROM s$k s CROSS JOIN m$k m),"""
    }.mkString("\n")
    s"""w0 AS (SELECT word, count(*)::BIGINT AS cnt FROM (SELECT unnest(${toks("text")}) AS word FROM documents) GROUP BY word),
s0 AS (SELECT word, cnt, '//' || array_to_string(string_split(word,''),'//') || '//' AS seq FROM w0),
$rounds"""
  }

  /** WordPiece-training CTE chain: [[bpeMergeCtes]]'s structure with the
    * WordPiece argmax — each round scores a pair by
    * `trunc(cnt·10^12 / (ucnt_l·ucnt_r))` in exact HUGEINT arithmetic
    * (`//` truncates like Spark's Decimal `div`), so the quantized score
    * and its (l, r) tie-break match
    * [[graft.operators.TokenizerTrain.trainWordPieceMerges]] bit for
    * bit. The greedy-left replace is identical. */
  def wpMergeCtes(n: Int): String = {
    // MATERIALIZED throughout: u$k is referenced twice per round (once
    // per pair side) and every s$k twice, so plain CTEs would inline
    // into an exponentially-replicated plan (~4^n scans of the parquet
    // — observed as file-handle exhaustion at n=8)
    val rounds = (0 until n).map { k =>
      s"""y$k AS MATERIALIZED (SELECT cnt, list_filter(string_split(seq,'/'), x -> x != '') AS syms FROM s$k),
p$k AS MATERIALIZED (SELECT struct_extract(z,1) AS l, struct_extract(z,2) AS r, sum(cnt)::BIGINT AS cnt FROM (
  SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z FROM y$k WHERE len(syms) >= 2) GROUP BY 1, 2),
u$k AS MATERIALIZED (SELECT s, sum(cnt)::BIGINT AS ucnt FROM (SELECT cnt, unnest(syms) AS s FROM y$k) GROUP BY s),
m$k AS MATERIALIZED (SELECT p.l, p.r, p.cnt,
  ((p.cnt::HUGEINT * 1000000000000) // (ul.ucnt::HUGEINT * ur.ucnt::HUGEINT))::BIGINT AS score_q
  FROM p$k p JOIN u$k ul ON ul.s = p.l JOIN u$k ur ON ur.s = p.r
  ORDER BY score_q DESC, p.l ASC, p.r ASC LIMIT 1),
s${k + 1} AS MATERIALIZED (SELECT word, s.cnt, replace(seq, '/' || m.l || '//' || m.r || '/', '/' || m.l || m.r || '/') AS seq FROM s$k s CROSS JOIN m$k m),"""
    }.mkString("\n")
    s"""w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt FROM (SELECT unnest(${toks("text")}) AS word FROM documents) GROUP BY word),
s0 AS MATERIALIZED (SELECT word, cnt, '//' || array_to_string(string_split(word,''),'//') || '//' AS seq FROM w0),
$rounds"""
  }

  /** q149: the WordPiece-learned merge list, n rounds unrolled. */
  def q149_wordpiece_merges(n: Int): String =
    s"""WITH ${wpMergeCtes(n)}
mm AS (${(0 until n).map(k => s"SELECT $k::BIGINT AS rnk, l, r, cnt, score_q FROM m$k").mkString(" UNION ALL ")})
SELECT * FROM mm"""

  /** q150: corpus token counts under the WordPiece-learned vocabulary —
    * train + segment + count, end to end. */
  def q150_wordpiece_tokenize(n: Int): String =
    s"""WITH ${wpMergeCtes(n)}
tk AS (SELECT cnt, unnest(list_filter(string_split(seq,'/'), x -> x != '')) AS token FROM s$n)
SELECT token, sum(cnt)::BIGINT AS total FROM tk GROUP BY token"""

  /** q146: round-0 adjacent-character pair counts weighted by word
    * count — the distributed leg of BPE training on its own. */
  def q146_bpe_pair_counts: String =
    s"""WITH w0 AS (SELECT word, count(*)::BIGINT AS cnt FROM (SELECT unnest(${toks("text")}) AS word FROM documents) GROUP BY word),
y0 AS (SELECT cnt, string_split(word,'') AS syms FROM w0),
p0 AS (SELECT struct_extract(z,1) AS l, struct_extract(z,2) AS r, sum(cnt)::BIGINT AS cnt FROM (
  SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z FROM y0 WHERE len(syms) >= 2) GROUP BY 1, 2)
SELECT l, r, cnt FROM p0"""

  /** q147: the learned merge list itself, n rounds unrolled. */
  def q147_bpe_merges(n: Int): String =
    s"""WITH ${bpeMergeCtes(n)}
mm AS (${(0 until n).map(k => s"SELECT $k::BIGINT AS rnk, l, r, cnt FROM m$k").mkString(" UNION ALL ")})
SELECT * FROM mm"""

  /** [[bpeMergeCtes]] with MATERIALIZED rounds — required past ~8
    * rounds: each plain s$k is referenced twice per round, so the
    * non-materialized chain inlines ~2^n scans of the parquet
    * (observed as file-handle exhaustion near n=64). DuckDB binds a
    * materialized 160-round chain inside its default expression-depth
    * limit; q162 uses 128. */
  def bpeMergeCtesMat(n: Int): String = {
    val rounds = (0 until n).map { k =>
      s"""y$k AS MATERIALIZED (SELECT cnt, list_filter(string_split(seq,'/'), x -> x != '') AS syms FROM s$k),
p$k AS MATERIALIZED (SELECT struct_extract(z,1) AS l, struct_extract(z,2) AS r, sum(cnt)::BIGINT AS cnt FROM (
  SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z FROM y$k WHERE len(syms) >= 2) GROUP BY 1, 2),
m$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
s${k + 1} AS MATERIALIZED (SELECT word, s.cnt, replace(seq, '/' || m.l || '//' || m.r || '/', '/' || m.l || m.r || '/') AS seq FROM s$k s CROSS JOIN m$k m),"""
    }.mkString("\n")
    s"""w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt FROM (SELECT unnest(${toks("text")}) AS word FROM documents) GROUP BY word),
s0 AS MATERIALIZED (SELECT word, cnt, '//' || array_to_string(string_split(word,''),'//') || '//' AS seq FROM w0),
$rounds"""
  }

  /** q162: the BATCHED trainer ([[graft.operators.TokenizerTrain
    * .trainBpeMergesBatched]]) at 128 rounds — past the gate corpus's
    * full merge space (exhausts at 89), so this hash-gates every merge
    * the vocabulary admits. The oracle is the SEQUENTIAL chain: the
    * batched trainer's whole claim is list-equality with sequential
    * greedy rounds, so the oracle deliberately does not model batches.
    * Rounds past exhaustion are empty CTEs (p$$k empty → m$$k empty →
    * s$${k+1} empty via the cross join), contributing no rows — the
    * same early stop the Spark trainer takes. */
  def q162_bpe_merges_batched(n: Int): String =
    s"""WITH ${bpeMergeCtesMat(n)}
mm AS (${(0 until n).map(k => s"SELECT $k::BIGINT AS rnk, l, r, cnt FROM m$k").mkString(" UNION ALL ")})
SELECT * FROM mm"""

  /** q148: corpus token counts under the learned vocabulary —
    * train + segment + count, end to end. */
  def q148_bpe_tokenize(n: Int): String =
    s"""WITH ${bpeMergeCtes(n)}
tk AS (SELECT cnt, unnest(list_filter(string_split(seq,'/'), x -> x != '')) AS token FROM s$n)
SELECT token, sum(cnt)::BIGINT AS total FROM tk GROUP BY token"""

  /** q113: Count-Min token-frequency estimates. The minhashPerm hash
    * family is arithmetic in the row index i — a_i = ((2i+1)*B) mod P32,
    * b_i = (i*C) mod P32 ([[Dedup.minhashPerm]]) — so the whole
    * depth-row grid unrolls as a range join. est(t) = min over rows of
    * the cell count; `heavy` flags est >= threshold. All-integer. */
  def q113_cms_estimates(depth: Int, width: Int, threshold: Long): String =
    s"""WITH tok AS (SELECT ${tids("text")} AS tids FROM documents),
occ AS (SELECT unnest(tids) AS t FROM tok),
cell AS (SELECT t, i, ((t * (((2*i+1)*$B) % $P32) + ((i*$C) % $P32)) % $P32) % $width AS bucket
  FROM occ, (SELECT unnest(range(0, $depth)) AS i) r),
sk AS (SELECT i, bucket, count(*) AS cnt FROM cell GROUP BY i, bucket),
cand AS (SELECT DISTINCT t, i, bucket FROM cell)
SELECT cand.t AS token_id, min(sk.cnt) AS est, min(sk.cnt) >= $threshold AS heavy
FROM cand JOIN sk ON cand.i = sk.i AND cand.bucket = sk.bucket
GROUP BY cand.t"""

  /** q114: per-source distinct shingles, exact vs the HLL estimate.
    * Integer-exact until the single final division: rho comes from
    * threshold counts against a literal power table (no log2), the
    * harmonic-mean denominator sums exact 2^(40-rho) terms, and the
    * numerator alpha*m^2*2^40 is the SAME Scala Double the Spark plan
    * embeds ([[graft.operators.Sketch.hllNumerator]]). */
  def q114_hll_distinct(n: Int, p: Int): String = {
    val m = 1 << p
    val w = 32 - p
    val (a, b) = Dedup.minhashPerm(graft.operators.Sketch.HllPermRow)
    val powList = graft.operators.Sketch.hllPowTable(p).mkString("[", ", ", "]")
    val thrList = (1 to w).map(i => 1L << (i - 1)).mkString("[", ", ", "]")
    val num = graft.operators.Sketch.hllNumerator(p)
    s"""WITH tok AS (SELECT source, ${tids("text")} AS tids FROM documents),
sh AS (SELECT DISTINCT source, unnest(${shingleList("tids", n)}) AS shingle FROM tok WHERE len(tids) >= $n),
h AS (SELECT source, ((shingle * $a + $b) % $P32) AS g FROM sh),
br AS (SELECT source, g & ${m - 1} AS bucket,
  ${w + 1} - len(list_filter($thrList, pw -> (g >> $p) >= pw)) AS rho FROM h),
mx AS (SELECT source, bucket, max(rho) AS maxrho FROM br GROUP BY source, bucket),
agg AS (SELECT source, sum(($powList)[maxrho]) AS s, count(*) AS nb FROM mx GROUP BY source),
ex AS (SELECT source, count(*) AS exact FROM sh GROUP BY source)
SELECT ex.source, ex.exact, $num / CAST(agg.s + ($m - agg.nb) * ${1L << 40} AS DOUBLE) AS est
FROM ex JOIN agg USING (source)"""
  }

  /** q115: Bloom-filter decontamination. The eval side (doc_id < 100)
    * reduces to its DISTINCT bit-position set; a train shingle is
    * flagged iff all k of its positions are present (per-(doc,shingle)
    * match count = k — duplicate positions within a shingle double-join
    * exactly when both tests would pass, so the count test is the
    * all-bits-set test). Same one-sided error as the bank probe:
    * supersets the exact q41 join, never misses. */
  def q115_bloom_decontam(n: Int, k: Int, nBits: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(${shingleList("tids", n)}) AS shingle FROM tok WHERE len(tids) >= $n),
pos AS (SELECT doc_id, shingle, i, ((shingle * (((2*i+1)*$B) % $P32) + ((i*$C) % $P32)) % $P32) % $nBits AS pos
  FROM sh, (SELECT unnest(range(0, $k)) AS i) r),
ev AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 100),
hit AS (SELECT p.doc_id, p.shingle, count(*) AS nset
  FROM pos p JOIN ev USING (pos) WHERE p.doc_id >= 100
  GROUP BY p.doc_id, p.shingle)
SELECT doc_id, count(*) AS flagged_shingles FROM hit WHERE nset = $k GROUP BY doc_id"""

  /** Matryoshka CTEs ending in `me(vec_id, emb)` — truncate to `d` dims,
    * widen to double, re-normalize with the engine's exact l2normalize
    * tree (0-seeded square fold, nv + 1e-12 denominator). */
  private def matryoshkaCtes(d: Int): String =
    s"""mt AS (SELECT vec_id, list_transform(list_slice(embedding, 1, $d), x -> x::DOUBLE) AS v FROM embeddings),
mn AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, y -> y*y), (a,b) -> a+b)) AS nv FROM mt),
me AS (SELECT vec_id, list_transform(v, x -> x / (nv + 1e-12)) AS emb FROM mn)"""

  def q59_matryoshka(d: Int): String =
    s"""WITH ${matryoshkaCtes(d)}
SELECT vec_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM me"""

  def q59b_matryoshka_search(d: Int, nCandidates: Int, k: Int): String =
    s"""WITH ${matryoshkaCtes(d)},
qm AS (SELECT vec_id AS qid, emb AS qt FROM me WHERE vec_id < 8),
cj AS (SELECT qm.qid, me.vec_id,
  row_number() OVER (PARTITION BY qm.qid ORDER BY ${cosineSql("me.emb", "qm.qt")} DESC, me.vec_id ASC) AS rn
  FROM me, qm),
cand AS (SELECT qid, vec_id FROM cj WHERE rn <= $nCandidates),
qq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
sc AS (SELECT c.qid, c.vec_id, ${cosineSql("e.embedding", "qq.qv")} AS score,
  row_number() OVER (PARTITION BY c.qid ORDER BY ${cosineSql("e.embedding", "qq.qv")} DESC, c.vec_id ASC) AS rnk
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN qq ON qq.qid = c.qid)
SELECT qid, vec_id, rnk, score FROM sc WHERE rnk <= $k"""

  /** Per-label quantized-mean centroids (the k-means update arithmetic,
    * one shot, keyed by label): `ls` per (label, dim), `lcv` assembled. */
  private def labelCentroidCtes(s9: Long): String =
    s"""ls AS (SELECT label, d, sum(q)::BIGINT AS s, count(*)::BIGINT AS n FROM (
  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d,
    CAST(floor(unnest(embedding)::DOUBLE * $s9 + 0.5) AS BIGINT) AS q FROM embeddings) t GROUP BY label, d),
lcv AS (SELECT label, list(s::DOUBLE / (n * $s9)::DOUBLE ORDER BY d) AS cvec FROM ls GROUP BY label)"""

  def q60_label_centroids(s9: Long = 1000000L): String =
    s"""WITH ${labelCentroidCtes(s9)}
SELECT label::BIGINT AS label, d AS dim, s::DOUBLE / (n * $s9)::DOUBLE AS val FROM ls"""

  def q60b_centroid_classify(s9: Long = 1000000L): String =
    s"""WITH ${labelCentroidCtes(s9)}
SELECT vec_id, label, pred FROM (
  SELECT e.vec_id, e.label::BIGINT AS label, c.label::BIGINT AS pred,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2sqSql("e.embedding", "c.cvec")}, c.label) AS rn
  FROM embeddings e CROSS JOIN lcv c) t WHERE rn = 1"""

  def q61_repeated_spans(n: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
ps AS (SELECT doc_id, CAST(generate_subscripts(sh, 1) - 1 AS BIGINT) AS pos, unnest(sh) AS shingle FROM (
  SELECT doc_id, ${shingleList("tids", n)} AS sh FROM tok WHERE len(tids) >= $n) t),
st AS (SELECT shingle, count(DISTINCT doc_id)::BIGINT AS span_docs FROM ps GROUP BY shingle HAVING count(DISTINCT doc_id) > 1)
SELECT ps.doc_id, ps.pos, ps.shingle, st.span_docs FROM ps JOIN st USING (shingle)"""

  /** q105: cross-document duplicated-block stats
    * ([[graft.operators.Dedup.dupBlockStats]]) — non-overlapping
    * width-`w` blocks = the stride-`w` subsample of the shingle walk;
    * a block is duplicated when its hash occurs in > 1 distinct doc. */
  def q105_dup_blocks(w: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
bl AS (SELECT doc_id, pos, shingle FROM (
  SELECT doc_id, CAST(generate_subscripts(sh, 1) - 1 AS BIGINT) AS pos, unnest(sh) AS shingle FROM (
    SELECT doc_id, ${shingleList("tids", w)} AS sh FROM tok WHERE len(tids) >= $w) t) p WHERE pos % $w = 0),
dup AS (SELECT shingle FROM bl GROUP BY shingle HAVING count(DISTINCT doc_id) > 1)
SELECT bl.doc_id, count(*)::BIGINT AS n_blocks,
  sum(CASE WHEN d.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS dup_blocks
FROM bl LEFT JOIN dup d USING (shingle) GROUP BY bl.doc_id"""

  /** q106: DSIR importance masses ([[graft.operators.Sampling
    * .dsirMasses]]) — hashed word-bigram features (shingle % B),
    * add-one-smoothed target/source bucket counts, exact integer
    * per-doc masses. Target = docs with doc_id < 100 (the q41 split
    * convention). */
  def q106_dsir(nBuckets: Int, n: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
f AS (SELECT doc_id, bucket, count(*)::BIGINT AS c FROM (
  SELECT doc_id, unnest(${shingleList("tids", n)}) % $nBuckets AS bucket FROM tok WHERE len(tids) >= $n) t GROUP BY doc_id, bucket),
tc AS (SELECT bucket, sum(c) AS tc FROM f WHERE doc_id < 100 GROUP BY bucket),
sc AS (SELECT bucket, sum(c) AS sc FROM f GROUP BY bucket)
SELECT f.doc_id, sum(c * (coalesce(tc.tc, 0) + 1))::BIGINT AS t_mass,
  sum(c * (sc.sc + 1))::BIGINT AS s_mass
FROM f JOIN sc USING (bucket) LEFT JOIN tc USING (bucket) GROUP BY f.doc_id"""

  /** q67: q61's flagged positions → per-doc start list → per-row HOF
    * cut (token i survives iff no start s has s ≤ i < s+n), re-exploded
    * with fresh positions. */
  def q67_splice_spans(n: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
ps AS (SELECT doc_id, CAST(generate_subscripts(sh, 1) - 1 AS BIGINT) AS pos, unnest(sh) AS shingle FROM (
  SELECT doc_id, ${shingleList("tids", n)} AS sh FROM tok WHERE len(tids) >= $n) t),
st AS (SELECT shingle FROM ps GROUP BY shingle HAVING count(DISTINCT doc_id) > 1),
fl AS (SELECT DISTINCT ps.doc_id, ps.pos FROM ps JOIN st USING (shingle)),
sp AS (SELECT doc_id, list(pos ORDER BY pos) AS starts FROM fl GROUP BY doc_id),
cl AS (SELECT t.doc_id,
  CASE WHEN sp.starts IS NULL THEN t.tids ELSE
    list_transform(
      list_filter(
        list_transform(range(0, len(t.tids)), i -> {'t': t.tids[CAST(i AS INT) + 1], 'i': i}),
        s -> len(list_filter(sp.starts, s2 -> s2 <= s.i AND s.i < s2 + $n)) = 0),
      s -> s.t) END AS tids_clean
  FROM tok t LEFT JOIN sp USING (doc_id))
SELECT doc_id, CAST(generate_subscripts(tids_clean, 1) - 1 AS BIGINT) AS pos, unnest(tids_clean) AS token_id FROM cl"""

  /** q156: the keep-first ExactSubstr cut — q67's chain with the
    * duplicate set keyed on occurrences (count ≥ 2, within-doc repeats
    * included) and the min packed (doc,start) occurrence exempted. */
  def q156_splice_keep_first(n: Int, pack: Long): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
ps AS (SELECT doc_id, CAST(generate_subscripts(sh, 1) - 1 AS BIGINT) AS pos, unnest(sh) AS shingle FROM (
  SELECT doc_id, ${shingleList("tids", n)} AS sh FROM tok WHERE len(tids) >= $n) t),
k AS (SELECT doc_id, pos, shingle, doc_id * $pack + pos AS kk FROM ps),
st AS (SELECT shingle, min(kk) AS keep FROM k GROUP BY shingle HAVING count(*) >= 2),
fl AS (SELECT DISTINCT k.doc_id, k.pos FROM k JOIN st USING (shingle) WHERE k.kk != st.keep),
sp AS (SELECT doc_id, list(pos ORDER BY pos) AS starts FROM fl GROUP BY doc_id),
cl AS (SELECT t.doc_id,
  CASE WHEN sp.starts IS NULL THEN t.tids ELSE
    list_transform(
      list_filter(
        list_transform(range(0, len(t.tids)), i -> {'t': t.tids[CAST(i AS INT) + 1], 'i': i}),
        s -> len(list_filter(sp.starts, s2 -> s2 <= s.i AND s.i < s2 + $n)) = 0),
      s -> s.t) END AS tids_clean
  FROM tok t LEFT JOIN sp USING (doc_id))
SELECT doc_id, CAST(generate_subscripts(tids_clean, 1) - 1 AS BIGINT) AS pos, unnest(tids_clean) AS token_id FROM cl"""

  def q62_source_keywords(k: Int): String =
    s"""WITH tok AS (SELECT source, doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT source, doc_id, unnest(tids) AS token_id FROM tok),
gtf AS (SELECT source, token_id, count(*)::BIGINT AS tf FROM e GROUP BY source, token_id),
dfx AS (SELECT token_id, count(*)::BIGINT AS df FROM (SELECT DISTINCT doc_id, token_id FROM e) t GROUP BY token_id),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM tok),
sc AS (SELECT g.source, g.token_id, g.tf::DOUBLE * (nd.n_docs::DOUBLE / d.df::DOUBLE) AS score
  FROM gtf g JOIN dfx d USING (token_id), nd),
r AS (SELECT source, token_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, token_id ASC) AS rnk FROM sc)
SELECT source, token_id, rnk, score FROM r WHERE rnk <= $k"""

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  val q18_lang_id: String = {
    val scores = TextAnalysis.markers
      .map { case (lang, words) =>
        s"len(list_filter(tk, t -> t IN ${inList(words)}))::BIGINT AS s_$lang"
      }
      .mkString(", ")
    val langs = TextAnalysis.markers.map(_._1)
    // earliest-max: lang i wins iff its score ≥ every later score and it
    // beat every earlier one (strict >) — equivalent to the Spark fold.
    val caseArms = langs.zipWithIndex.dropRight(1).map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l => s"s_$lang >= s_$l").mkString(" AND ")
      s"WHEN $later THEN '$lang'"
    }.mkString(" ")
    val greatest = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS tk FROM documents),
sc AS (SELECT doc_id, $scores FROM tok)
SELECT doc_id, CASE $caseArms ELSE '${langs.last}' END AS lang_pred, $greatest AS lang_score FROM sc"""
  }

  val q19_quality: String = {
    val stop = inList(TextAnalysis.stopwords)
    s"""WITH t AS (SELECT doc_id, text, ${toks("text")} AS tk FROM documents),
t2 AS (SELECT * FROM t WHERE len(tk) > 0),
b AS (SELECT doc_id, length(text)::BIGINT AS n_chars, len(tk)::BIGINT AS n_words,
  length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::BIGINT AS alpha_chars,
  len(list_filter(tk, t -> t IN $stop))::BIGINT AS stops FROM t2)
SELECT doc_id, n_chars, n_words,
  alpha_chars::DOUBLE / n_words::DOUBLE AS avg_word_len,
  (n_chars - alpha_chars)::DOUBLE / n_chars::DOUBLE AS punct_ratio,
  stops::DOUBLE / n_words::DOUBLE AS stop_ratio,
  (stops::DOUBLE / n_words::DOUBLE) * 0.5 + (1.0 - (n_chars - alpha_chars)::DOUBLE / n_chars::DOUBLE) * 0.3 + (CASE WHEN n_words >= 20 AND n_words <= 1000 THEN 0.2 ELSE 0.0 END) AS quality_score
FROM b"""
  }

  val q20_token_count: String =
    s"""SELECT doc_id,
len(list_filter(string_split_regex(text, '\\s+'), t -> t != ''))::BIGINT AS ws_tokens,
len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]', ' ', 'g'), '\\s+'), t -> t != ''))::BIGINT AS alnum_tokens,
CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents"""

  def q21_fingerprint(k: Int, w: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
t2 AS (SELECT doc_id, tids FROM tok WHERE len(tids) >= ${k + w - 1}),
s AS (SELECT doc_id, tids, ${shingleList("tids", k)} AS sh FROM t2),
wins AS (SELECT doc_id, tids, list_distinct(list_transform(range(0, len(sh) - ${w - 1}), p -> list_reduce(list_slice(sh, p + 1, p + $w), (a,b) -> least(a, b)))) AS fps FROM s)
SELECT doc_id, len(fps)::BIGINT AS n_fingerprints,
  list_reduce(fps, (a,b) -> least(a, b)) AS min_fp,
  list_reduce(list_concat([0::BIGINT], tids), (a,t) -> (a*1000003 + t) % 911382323007) AS full_hash
FROM wins"""

  val q24_lineitem_agg: String =
    s"""SELECT l_returnflag, l_linestatus,
sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base,
sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS sum_disc_price,
count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus"""

  /** q68: the transformer-contract backend forward
    * ([[graft.backend.TransformerBackend]]), computed here with NO
    * padding at all — per doc, the attention-pooled hidden state at the
    * LAST real token over all of its predecessors. The Spark side runs
    * the same forward through left-padded batch-longest tensors with the
    * additive causal+padding mask and mask-derived position ids; a hash
    * match against this pad-free formulation IS the proof that padding
    * never leaks into results. All attention arithmetic is integer
    * (token cells, rational rotations, and scores live in Z_M3; sums are
    * exact longs), so the comparison is bit-exact.
    *
    * Per dim pair h: u = pos + h + 2, rotation (cos, sin) ∝ (u²−1, 2u);
    * raw score = Σ_d q·k reduced to [1, M3]; pooled value
    * y_d = Σ_j w_j·emb(t_j, d); out = (y / W / M3)·2 − 1, then the
    * standard l2 normalization. */
  def q68_transformer_embed(dim: Int = 8): String =
    transformerForwardSql(
      s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0)""",
      (t, d) => s"((($t) % $M3) * $A3 + ($d) * $B3 + $C3) % $M3",
      dim)

  /** q84: the transformer forward over the LEARNED `embed_tokens`
    * table (qwen3.rs:892-925), composed with the WordPiece tokenizer —
    * every gated id is in-vocab, so each looks its table row up (the
    * formula-recomputed bank, mapped into [0, M3)); the hash fallback
    * for out-of-table ids is spec-pinned JVM-side. */
  def q84_table_embed(dim: Int = 8): String = {
    val v = graft.backend.EmbTableBank.VocabSize
    transformerForwardSql(
      s"""${wordpieceCtes()},
sel AS (SELECT doc_id, s2 AS tids, len(s2) AS n FROM sq WHERE len(s2) > 0)""",
      (t, d) =>
        s"(CASE WHEN ($t) < $v THEN (((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000 + $M3) % $M3" +
          s" ELSE ((($t) % $M3) * $A3 + ($d) * $B3 + $C3) % $M3 END)",
      dim)
  }

  /** The shared q68-shape forward: `inputCtes` must end in
    * `sel(doc_id, tids, n)`; `emb(t, d)` is the token-embedding cell
    * expression ([[graft.backend.TransformerBackend]] semantics —
    * causal attention at the last index, rational RoPE rotation,
    * last-token pool, l2 normalize). */
  private def transformerForwardSql(inputCtes: String,
                                    emb: (String, String) => String,
                                    dim: Int): String = {
    // qk(t, p): the rotated query/key cell at lambda var d (0-based)
    def qk(t: String, p: String): String = {
      val u = s"(($p) + (d // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = emb(t, "d - (d % 2)")
      val e1 = emb(t, "d - (d % 2) + 1")
      s"(CASE WHEN d % 2 = 0 THEN (((($e0) * $c - ($e1) * $sn) % $M3) + $M3) % $M3" +
        s" ELSE (((($e0) * $sn + ($e1) * $c) % $M3) + $M3) % $M3 END)"
    }
    s"""$inputCtes,
qv AS (SELECT doc_id, tids, n,
  list_transform(range(0, $dim), d -> ${qk("tids[n]", "n - 1")}) AS ql FROM sel),
ws AS (SELECT doc_id, tids, n,
  list_transform(range(1, n + 1), j ->
    (list_reduce(list_transform(range(0, $dim), d -> ${qk("tids[j]", "j - 1")} * ql[d + 1]), (a,b) -> a + b) % $M3) + 1) AS w FROM qv),
ys AS (SELECT doc_id, tids, n, list_reduce(w, (a,b) -> a + b) AS tw,
  list_transform(range(0, $dim), d ->
    list_reduce(list_transform(range(1, n + 1), j -> w[j] * (${emb("tids[j]", "d")})), (a,b) -> a + b)) AS y FROM ws),
m AS (SELECT doc_id, list_transform(y, yv -> (yv::DOUBLE / tw::DOUBLE / $M3.0) * 2.0 - 1.0) AS mn FROM ys),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q86: the learned-projection GQA attention forward
    * ([[graft.backend.GqaAttentionBackend]]), computed pad-free like
    * q68: per doc, the o_proj output at the LAST real token. The four
    * q/k/v/o banks are recomputed from their generating formula (the
    * Spark side reads the same values from the two-shard checkpoint;
    * AttnBankSpec pins them equal). Per head n: scores use the
    * head-locally rotated q/k projections with query head n reading kv
    * head n // groups (repeat_kv); values are the UN-rotated v_proj
    * rows; the per-head mix scales into (−1, 1), quantizes to
    * fixed-point longs, and the o_proj matmul runs in exact int64. */
  def q86_gqa_attention: String = gqaAttentionSql(withBias = false)

  /** q94: the `attention_bias = true` branch — q86 with the learned
    * q/k/v/o biases ([[graft.backend.AttnBiasBank]]): each projection
    * adds its bias cell before the mod-reduce; o_proj adds its bias at
    * the z fixed-point scale before the output division. */
  def q94_attn_bias: String = gqaAttentionSql(withBias = true)

  private def gqaAttentionSql(withBias: Boolean): String = {
    val H = graft.backend.AttnBank.Hidden
    val NH = graft.backend.AttnBank.NHeads
    val D = graft.backend.AttnBank.HeadDim
    val NKV = graft.backend.AttnBank.NKvHeads
    val qOut = NH * D
    val kvOut = NKV * D
    val g = NH / NKV
    val offK = qOut * H
    val offV = offK + kvOut * H
    val offO = offV + kvOut * H
    val qs = "1000000.0" // GqaAttentionBackend.QuantScale
    // the AttnBank generating formula at flat index expression i
    def wk(i: String) = s"((($i) + 1) * $A3 + $B3) % 4001 - 2000"
    // the AttnBiasBank generating formula at flat bias index i
    def bk(i: String) = s"((($i) + 1) * $C3 + $A3) % 3001 - 1500"
    def embc(t: String, e: String) = s"((($t) % $M3) * $A3 + ($e) * $B3 + $C3) % $M3"
    // projected cell d of the [out x H] weight block at bank offset
    // off (bias cells start at bias base bb on the bias branch)
    def projB(t: String, off: String, bb: Int, d: String) = {
      val bias = if (withBias) s" + (${bk(s"$bb + ($d)")})" else ""
      s"(((list_reduce(list_transform(range(0, $H), e -> (${wk(s"($off) + ($d) * $H + e")}) * (${embc(t, "e")})), (a,b) -> a + b)$bias) % $M3 + $M3) % $M3)"
    }
    def proj(t: String, off: String, d: String) = {
      val bb = if (off == "0") 0 else if (off == offK.toString) qOut else qOut + kvOut
      projB(t, off, bb, d)
    }
    // rotated projected cell at lambda var i (0-based within the block):
    // head-local pair hh = (i % D) // 2, u = p + hh + 2
    def rot(t: String, p: String, off: String) = {
      val u = s"(($p) + ((i % $D) // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = proj(t, off, s"i - (i % 2)")
      val e1 = proj(t, off, s"i - (i % 2) + 1")
      s"(CASE WHEN i % 2 = 0 THEN ((($e0 * $c - $e1 * $sn) % $M3) + $M3) % $M3" +
        s" ELSE ((($e0 * $sn + $e1 * $c) % $M3) + $M3) % $M3 END)"
    }
    s"""WITH tok AS (SELECT doc_id, ${tids("text", 128)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
qv AS (SELECT doc_id, tids, n,
  list_transform(range(0, $qOut), i -> ${rot("tids[n]", "n - 1", "0")}) AS ql FROM sel),
kv AS (SELECT doc_id, tids, n, ql,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${rot("tids[j]", "j - 1", offK.toString)})) AS kl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${proj("tids[j]", offV.toString, "i")})) AS vl FROM qv),
ws AS (SELECT doc_id, tids, n, vl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $NH), hn ->
      (list_reduce(list_transform(range(0, $D), d ->
        ql[hn * $D + d + 1] * kl[j][(hn // $g) * $D + d + 1]), (a,b) -> a + b) % $M3) + 1)) AS w FROM kv),
ys AS (SELECT doc_id, tids, n,
  list_transform(range(0, $NH), hn ->
    list_reduce(list_transform(range(1, n + 1), j -> w[j][hn + 1]), (a,b) -> a + b)) AS tw,
  list_transform(range(0, $qOut), i ->
    list_reduce(list_transform(range(1, n + 1), j ->
      w[j][(i // $D) + 1] * vl[j][((i // $D) // $g) * $D + (i % $D) + 1]), (a,b) -> a + b)) AS y FROM ws),
zq AS (SELECT doc_id,
  list_transform(range(0, $qOut), i ->
    CAST(floor(((y[i + 1]::DOUBLE / tw[(i // $D) + 1]::DOUBLE / $M3.0) * 2.0 - 1.0) * $qs + 0.5) AS BIGINT)) AS z FROM ys),
ov AS (SELECT doc_id,
  list_transform(range(0, $H), dd ->
    (list_reduce(list_transform(range(0, $qOut), e -> (${wk(s"$offO + dd * $qOut + e")}) * z[e + 1]), (a,b) -> a + b)${if (withBias) s" + (${bk(s"${qOut + 2 * kvOut} + dd")}) * 1000000" else ""})::DOUBLE / $qs) AS mn FROM zq),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM ov),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q87: the learned gated-MLP forward
    * ([[graft.backend.GatedMlpBackend]]) — per token,
    * `down(act(gate(x)) * up(x))` with the banks recomputed from their
    * generating formula and the centered rational ReLU
    * `greatest(g − (M3−1)/2, 0)` as the activation; per doc, the exact
    * integer mean over tokens, then l2 normalize. */
  def q87_gated_mlp: String = {
    val H = graft.backend.MlpBank.Hidden
    val I = graft.backend.MlpBank.Inter
    val offUp = I * H
    val offDown = 2 * I * H
    val center = graft.backend.GatedMlpBackend.Center
    def wk(i: String) = s"((($i) + 1) * $C3 + $A3) % 4001 - 2000"
    def embc(t: String, e: String) = s"((($t) % $M3) * $A3 + ($e) * $B3 + $C3) % $M3"
    def proj(t: String, off: String, i: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wk(s"($off) + ($i) * $H + e")}) * (${embc(t, "e")})), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    s"""WITH tok AS (SELECT doc_id, ${tids("text", 128)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
av AS (SELECT doc_id, tids, n,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $I), i ->
      greatest(${proj("tids[j]", "0", "i")} - $center, 0) * ${proj("tids[j]", offUp.toString, "i")})) AS al FROM sel),
ys AS (SELECT doc_id, n,
  list_transform(range(0, $H), d ->
    list_reduce(list_transform(range(1, n + 1), j ->
      list_reduce(list_transform(range(0, $I), i -> (${wk(s"$offDown + d * $I + i")}) * al[j][i + 1]), (a,b) -> a + b)), (a,b) -> a + b)) AS y FROM av),
m AS (SELECT doc_id, list_transform(y, yv -> yv::DOUBLE / n::DOUBLE) AS mn FROM ys),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q89: q86's learned GQA attention plus the learned per-head
    * q_norm/k_norm gains ([[graft.backend.QkNormBank]]) — the
    * reference's reshape → RMSNorm → rope order (qwen3.rs:797-816):
    * each head slice of the q/k projections normalizes with the shared
    * [headDim] gain vector, quantizes to fixed-point longs, and THEN
    * rotates; v and everything downstream are q86 unchanged. */
  def q89_qk_norm: String = {
    val H = graft.backend.AttnBank.Hidden
    val NH = graft.backend.AttnBank.NHeads
    val D = graft.backend.AttnBank.HeadDim
    val NKV = graft.backend.AttnBank.NKvHeads
    val qOut = NH * D
    val kvOut = NKV * D
    val g = NH / NKV
    val offK = qOut * H
    val offV = offK + kvOut * H
    val offO = offV + kvOut * H
    val qs = "1000000.0"
    def wk(i: String) = s"((($i) + 1) * $A3 + $B3) % 4001 - 2000"
    def gq(d: String) = s"(2048 + ((($d) + 1) * $C3 + $B3) % 2049 - 1024)"
    def gk(d: String) = s"(2048 + ((($d) + $D + 1) * $C3 + $B3) % 2049 - 1024)"
    def embc(t: String, e: String) = s"((($t) % $M3) * $A3 + ($e) * $B3 + $C3) % $M3"
    def proj(t: String, off: String, d: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wk(s"($off) + ($d) * $H + e")}) * (${embc(t, "e")})), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    // per-head RMSNorm-quantize of projection list lst at lambda var i
    def normq(lst: String, gain: String => String) =
      s"CAST(floor(((($lst)[i + 1]::DOUBLE / sqrt((list_reduce(list_transform(range(0, $D), d2 -> ($lst)[(i // $D) * $D + d2 + 1] * ($lst)[(i // $D) * $D + d2 + 1]), (a,b) -> a + b))::DOUBLE / $D.0 + 1e-6)) * ((${gain(s"i % $D")})::DOUBLE / 2048.0)) * $qs + 0.5) AS BIGINT)"
    // rotation over a precomputed normalized list at lambda var i
    def rotL(lst: String, p: String) = {
      val u = s"(($p) + ((i % $D) // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = s"($lst)[i - (i % 2) + 1]"
      val e1 = s"($lst)[i - (i % 2) + 2]"
      s"(CASE WHEN i % 2 = 0 THEN ((($e0 * $c - $e1 * $sn) % $M3) + $M3) % $M3" +
        s" ELSE ((($e0 * $sn + $e1 * $c) % $M3) + $M3) % $M3 END)"
    }
    s"""WITH tok AS (SELECT doc_id, ${tids("text", 128)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
qp AS (SELECT doc_id, tids, n,
  list_transform(range(0, $qOut), i -> ${proj("tids[n]", "0", "i")}) AS qpl FROM sel),
qn AS (SELECT doc_id, tids, n,
  list_transform(range(0, $qOut), i -> ${normq("qpl", gq)}) AS qnl FROM qp),
qv AS (SELECT doc_id, tids, n,
  list_transform(range(0, $qOut), i -> ${rotL("qnl", "n - 1")}) AS ql FROM qn),
kp AS (SELECT doc_id, tids, n, ql,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${proj("tids[j]", offK.toString, "i")})) AS kpl FROM qv),
kn AS (SELECT doc_id, tids, n, ql,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${normq("kpl[j]", gk)})) AS knl FROM kp),
kv AS (SELECT doc_id, tids, n, ql,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${rotL("knl[j]", "j - 1")})) AS kl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${proj("tids[j]", offV.toString, "i")})) AS vl FROM kn),
ws AS (SELECT doc_id, tids, n, vl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $NH), hn ->
      (list_reduce(list_transform(range(0, $D), d ->
        ql[hn * $D + d + 1] * kl[j][(hn // $g) * $D + d + 1]), (a,b) -> a + b) % $M3) + 1)) AS w FROM kv),
ys AS (SELECT doc_id, tids, n,
  list_transform(range(0, $NH), hn ->
    list_reduce(list_transform(range(1, n + 1), j -> w[j][hn + 1]), (a,b) -> a + b)) AS tw,
  list_transform(range(0, $qOut), i ->
    list_reduce(list_transform(range(1, n + 1), j ->
      w[j][(i // $D) + 1] * vl[j][((i // $D) // $g) * $D + (i % $D) + 1]), (a,b) -> a + b)) AS y FROM ws),
zq AS (SELECT doc_id,
  list_transform(range(0, $qOut), i ->
    CAST(floor(((y[i + 1]::DOUBLE / tw[(i // $D) + 1]::DOUBLE / $M3.0) * 2.0 - 1.0) * $qs + 0.5) AS BIGINT)) AS z FROM ys),
ov AS (SELECT doc_id,
  list_transform(range(0, $H), dd ->
    list_reduce(list_transform(range(0, $qOut), e -> (${wk(s"$offO + dd * $qOut + e")}) * z[e + 1]), (a,b) -> a + b)::DOUBLE / $qs) AS mn FROM zq),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM ov),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q88: the COMPLETE learned decoder layer
    * ([[graft.backend.DecoderLayerBackend]]) pad-free — per doc, the
    * reference's pre-norm layer composition at the last real token:
    * s0 → input_layernorm → GQA attention (q86 semantics over the
    * normalized states) → residual → post_attention_layernorm → gated
    * MLP (q87 semantics) → residual → final model norm → l2. Every
    * double stage is one fixed parenthesization quantized back to the
    * int64 residual stream before crossing elements, so the layer is
    * bit-exact end-to-end. */
  def q88_decoder_layer: String = {
    val H = graft.backend.AttnBank.Hidden
    val NH = graft.backend.AttnBank.NHeads
    val D = graft.backend.AttnBank.HeadDim
    val NKV = graft.backend.AttnBank.NKvHeads
    val qOut = NH * D
    val kvOut = NKV * D
    val g = NH / NKV
    val offK = qOut * H
    val offV = offK + kvOut * H
    val offO = offV + kvOut * H
    val I = graft.backend.MlpBank.Inter
    val offUp = I * H
    val offDown = 2 * I * H
    val center = graft.backend.GatedMlpBackend.Center
    val qs = "1000000.0"
    val qsl = "1000000"
    // generating formulas: attention (A3·B3 stream), mlp (C3·A3), gains
    def wa(i: String) = s"((($i) + 1) * $A3 + $B3) % 4001 - 2000"
    def wm(i: String) = s"((($i) + 1) * $C3 + $A3) % 4001 - 2000"
    def gain(i: String) = s"(2048 + ((($i) + 1) * $A3 + $C3) % 2049 - 1024)"
    def embc(t: String, e: String) = s"((($t) % $M3) * $A3 + ($e) * $B3 + $C3) % $M3"
    // learned RMSNorm of list expr sv with gain base gb, quantized
    def rmsq(sv: String, gb: Int) =
      s"""list_transform(range(0, $H), e2 -> CAST(floor(((($sv)[e2 + 1]::DOUBLE / $qs) / sqrt(((list_reduce(list_transform($sv, v -> v * v), (a,b) -> a + b))::DOUBLE / $qs / $qs) / $H.0 + 1e-6)) * ((${gain(s"$gb + e2")})::DOUBLE / 2048.0) * $qs + 0.5) AS BIGINT))"""
    // attention projection of state-list sv: cell d of block at off
    def projA(sv: String, off: String, d: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wa(s"($off) + ($d) * $H + e")}) * ($sv)[e + 1]), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    def projM(sv: String, off: String, d: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wm(s"($off) + ($d) * $H + e")}) * ($sv)[e + 1]), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    // head-locally rotated attention projection at lambda var i
    def rot(sv: String, p: String, off: String) = {
      val u = s"(($p) + ((i % $D) // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = projA(sv, off, s"i - (i % 2)")
      val e1 = projA(sv, off, s"i - (i % 2) + 1")
      s"(CASE WHEN i % 2 = 0 THEN ((($e0 * $c - $e1 * $sn) % $M3) + $M3) % $M3" +
        s" ELSE ((($e0 * $sn + $e1 * $c) % $M3) + $M3) % $M3 END)"
    }
    s"""WITH tok AS (SELECT doc_id, ${tids("text", 128)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
st AS (SELECT doc_id, tids, n,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $H), e -> ((${embc("tids[j]", "e")}) * $qsl) // $M3)) AS s0l FROM sel),
x1 AS (SELECT doc_id, n, s0l,
  list_transform(range(1, n + 1), j -> ${rmsq("s0l[j]", 0)}) AS x1l FROM st),
qv AS (SELECT doc_id, n, s0l, x1l,
  list_transform(range(0, $qOut), i -> ${rot("x1l[n]", "n - 1", "0")}) AS ql FROM x1),
kv AS (SELECT doc_id, n, s0l, x1l, ql,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${rot("x1l[j]", "j - 1", offK.toString)})) AS kl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${projA("x1l[j]", offV.toString, "i")})) AS vl FROM qv),
ws AS (SELECT doc_id, n, s0l, x1l, vl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $NH), hn ->
      (list_reduce(list_transform(range(0, $D), d ->
        ql[hn * $D + d + 1] * kl[j][(hn // $g) * $D + d + 1]), (a,b) -> a + b) % $M3) + 1)) AS w FROM kv),
ys AS (SELECT doc_id, n, s0l,
  list_transform(range(0, $NH), hn ->
    list_reduce(list_transform(range(1, n + 1), j -> w[j][hn + 1]), (a,b) -> a + b)) AS tw,
  list_transform(range(0, $qOut), i ->
    list_reduce(list_transform(range(1, n + 1), j ->
      w[j][(i // $D) + 1] * vl[j][((i // $D) // $g) * $D + (i % $D) + 1]), (a,b) -> a + b)) AS y FROM ws),
zq AS (SELECT doc_id, n, s0l,
  list_transform(range(0, $qOut), i ->
    CAST(floor(((y[i + 1]::DOUBLE / tw[(i // $D) + 1]::DOUBLE / $M3.0) * 2.0 - 1.0) * $qs + 0.5) AS BIGINT)) AS z FROM ys),
r1 AS (SELECT doc_id,
  list_transform(range(0, $H), dd ->
    s0l[n][dd + 1] + CAST(floor((list_reduce(list_transform(range(0, $qOut), e -> (${wa(s"$offO + dd * $qOut + e")}) * z[e + 1]), (a,b) -> a + b))::DOUBLE / 1024.0 + 0.5) AS BIGINT)) AS r1l FROM zq),
x2 AS (SELECT doc_id, r1l, ${rmsq("r1l", H)} AS x2l FROM r1),
av AS (SELECT doc_id, r1l,
  list_transform(range(0, $I), i ->
    greatest(${projM("x2l", "0", "i")} - $center, 0) * ${projM("x2l", offUp.toString, "i")}) AS al FROM x2),
r2 AS (SELECT doc_id,
  list_transform(range(0, $H), d ->
    r1l[d + 1] + CAST(floor(((list_reduce(list_transform(range(0, $I), i -> (${wm(s"$offDown + d * $I + i")}) * al[i + 1]), (a,b) -> a + b))::DOUBLE / 1024.0 / $M3.0 / $M3.0) * $qs + 0.5) AS BIGINT)) AS r2l FROM av),
fn AS (SELECT doc_id,
  list_transform(range(0, $H), e2 ->
    ((r2l[e2 + 1]::DOUBLE / $qs) / sqrt(((list_reduce(list_transform(r2l, v -> v * v), (a,b) -> a + b))::DOUBLE / $qs / $qs) / $H.0 + 1e-6)) * ((${gain(s"${2 * H} + e2")})::DOUBLE / 2048.0)) AS mn FROM r2),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM fn),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q90: the TWO-LAYER stacked decoder
    * ([[graft.backend.DecoderLayerBackend.stacked]]) pad-free — the
    * reference's layer loop (qwen3.rs:897-931) with DISTINCT
    * per-layer weights: layer 0 advances EVERY position (its outputs
    * are layer 1's keys/values), layer 1 runs at the last real token,
    * then the final model norm. Each layer is the full q88 chain; the
    * per-layer CTE generator differs only in its query scope and
    * weight offsets. */
  def q90_stacked_decoder: String = {
    val H = graft.backend.AttnBank.Hidden
    val qsl = "1000000"
    def embc(t: String, e: String) = s"((($t) % $M3) * $A3 + ($e) * $B3 + $C3) % $M3"
    stackedDecoderSql(
      s"""WITH tok AS (SELECT doc_id, ${tids("text", 128)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0)""",
      (t, e) => s"((${embc(t, e)}) * $qsl) // $M3")
  }

  /** q95: the COMPLETE learned model from ONE sharded checkpoint —
    * real-vocab WordPiece tokenize → learned `model.embed_tokens`
    * rows AS the layer-0 residual stream (quantized k/1024 → QS
    * fixed-point, [[graft.backend.DecoderLayerBackend.s0]]) → the
    * full two-layer learned decoder stack → final model norm →
    * last-token pool → l2. Every gated id is in-vocab (the fixture
    * vocab is the table's id space), so no stage touches the hash
    * stream — the reference's embed path with every parameter loaded
    * from safetensors. Sequences cap at [[q95MaxLen]] tokens (the P3
    * truncation rule) to bound the stack's O(n²) layer-0 pass. */
  def q95_full_model: String = {
    val dim = graft.backend.EmbTableBank.Dim
    stackedDecoderSql(
      s"""${wordpieceCtes()},
sel AS (SELECT doc_id, list_slice(s2, 1, $q95MaxLen) AS tids, least(len(s2), $q95MaxLen) AS n FROM sq WHERE len(s2) > 2)""",
      (t, d) => s"CAST(floor((((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000)::DOUBLE / 1024.0 * 1000000.0 + 0.5) AS BIGINT)")
  }

  /** q96: the LEARNED cross-encoder rerank score — the q80 pair shape
    * `[CLS] query [SEP] doc [SEP]` (only_second truncation) through
    * the complete learned model (q95's forward, pooled pre-normalize
    * hidden), then the learned `score.weight`/`score.bias` linear:
    * the reference's `logits[:, 0]`
    * (/root/reference/src/reranking/impl.rs:167-180) as one real
    * classification row. Scores are bit-identical doubles: the head
    * fold is left-to-right over hidden dims, bias added last. */
  def q96_learned_rerank(queryText: String, maxLen: Int): String = {
    val wp = graft.model.WordPiece.fixture
    val H = graft.backend.AttnBank.Hidden
    val dim = graft.backend.EmbTableBank.Dim
    val qWords = queryText.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .split("\\s+").filter(_.nonEmpty).toSeq
    val qIds = qWords.flatMap(wp.tokenizeWord)
    val budgetB = maxLen - qIds.length - 3
    require(budgetB > 0, s"maxLen $maxLen leaves no room for the second sequence")
    val head = (wp.clsId +: qIds :+ wp.sepId)
      .map(i => s"CAST($i AS BIGINT)").mkString("[", ", ", "]")
    def hk(i: String) = s"((($i) + 5001) * $B3 + $A3) % 4001 - 2000"
    stackedDecoderSql(
      s"""${wordpieceCtes()},
pe AS (SELECT doc_id, list_concat(list_concat($head, list_slice(list_slice(s2, 2, len(s2) - 1), 1, $budgetB)), [CAST(${wp.sepId} AS BIGINT)]) AS tids FROM sq),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM pe)""",
      (t, d) => s"CAST(floor((((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000)::DOUBLE / 1024.0 * 1000000.0 + 0.5) AS BIGINT)",
      tail = Some(s"""
SELECT doc_id, list_reduce(list_transform(range(0, $H), d3 -> ((${hk("d3")})::DOUBLE / 1024.0) * mn[d3 + 1]), (a,b) -> a + b) + (${graft.backend.RerankHeadBank.headK(H)})::DOUBLE / 1024.0 AS score FROM fn"""))
  }

  /** q118: the reference's END-TO-END learned retrieval journey —
    * embed → search → rerank in ONE statement
    * (/root/reference/README.md usage: TextEmbedding candidates via
    * src/similarity.rs:31-40 feeding src/reranking/impl.rs:109-196).
    * The q95 full learned model embeds corpus AND query in one chain
    * (the query rides as doc_id −1), q17c's first-`nCells` IVF
    * assignment + `nProbe` probing retrieves `legK` candidates by
    * cosine, and the q96 learned cross-encoder head rescores JUST
    * those candidates — the rerank chain's input is the candidate
    * join, so the second forward touches `legK` docs, not the corpus.
    * Output: doc_id, retrieval cosine `rel`, learned `score`, and the
    * final rerank-ordered `rnk`. */
  def q118_learned_retrieval(nCells: Int, nProbe: Int, legK: Int): String = {
    val wp = graft.model.WordPiece.fixture
    val H = graft.backend.AttnBank.Hidden
    val dim = graft.backend.EmbTableBank.Dim
    val qWords = q96Query.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .split("\\s+").filter(_.nonEmpty).toSeq
    val qIds = qWords.flatMap(wp.tokenizeWord)
    val budgetB = q96MaxLen - qIds.length - 3
    require(budgetB > 0, s"q96MaxLen $q96MaxLen leaves no room for the doc")
    val head = (wp.clsId +: qIds :+ wp.sepId)
      .map(i => s"CAST($i AS BIGINT)").mkString("[", ", ", "]")
    def hk(i: String) = s"((($i) + 5001) * $B3 + $A3) % 4001 - 2000"
    val s0 = (t: String, d: String) =>
      s"CAST(floor((((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000)::DOUBLE / 1024.0 * 1000000.0 + 0.5) AS BIGINT)"
    s"""${wordpieceCtes()},
esel AS (SELECT doc_id, list_slice(s2, 1, $q95MaxLen) AS tids, least(len(s2), $q95MaxLen) AS n FROM sq WHERE len(s2) > 2
  UNION ALL SELECT CAST(-1 AS BIGINT) AS doc_id, $head AS tids, ${qIds.length + 2} AS n),
${decoderChainCtes("e", s0)},
enr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM efn),
eemb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM enr),
cents AS (SELECT doc_id AS cell, emb AS cvec FROM eemb WHERE doc_id >= 0 AND doc_id < $nCells),
assign AS (SELECT doc_id, emb, cell FROM (
  SELECT e.doc_id, e.emb, c.cell,
    row_number() OVER (PARTITION BY e.doc_id ORDER BY ${l2sqSql("e.emb", "c.cvec")}, c.cell) AS rn
  FROM eemb e CROSS JOIN cents c WHERE e.doc_id >= 0) t WHERE rn = 1),
qe AS (SELECT emb AS qvec FROM eemb WHERE doc_id = -1),
qprobe AS (SELECT cell, qvec FROM (
  SELECT c.cell, q.qvec, row_number() OVER (ORDER BY ${l2sqSql("q.qvec", "c.cvec")}, c.cell) AS rn
  FROM qe q CROSS JOIN cents c) t WHERE rn <= $nProbe),
jj AS (SELECT a.doc_id, ${cosineSql("a.emb", "qp.qvec")} AS rel,
  row_number() OVER (ORDER BY ${cosineSql("a.emb", "qp.qvec")} DESC, a.doc_id ASC) AS rn
  FROM assign a JOIN qprobe qp ON a.cell = qp.cell),
cand AS (SELECT doc_id, rel FROM jj WHERE rn <= $legK),
rpe AS (SELECT sq.doc_id, list_concat(list_concat($head, list_slice(list_slice(s2, 2, len(s2) - 1), 1, $budgetB)), [CAST(${wp.sepId} AS BIGINT)]) AS tids
  FROM sq JOIN cand ON cand.doc_id = sq.doc_id),
rsel AS (SELECT doc_id, tids, len(tids) AS n FROM rpe),
${decoderChainCtes("r", s0)},
sc AS (SELECT doc_id, list_reduce(list_transform(range(0, $H), d3 -> ((${hk("d3")})::DOUBLE / 1024.0) * mn[d3 + 1]), (a,b) -> a + b) + (${graft.backend.RerankHeadBank.headK(H)})::DOUBLE / 1024.0 AS score FROM rfn)
SELECT c.doc_id, c.rel, sc.score,
  CAST(row_number() OVER (ORDER BY sc.score DESC, c.doc_id ASC) AS BIGINT) AS rnk
FROM cand c JOIN sc ON sc.doc_id = c.doc_id"""
  }

  /** q99: the LEARNED ColBERT head — per-token vectors from the full
    * learned stack: every post-stack state except the first token's
    * (the reference's colbert output is `[batch, seq_len - 1, dim]`,
    * the leading special dropped — bgem3_embedding/impl.rs:218,277)
    * projected through the real `colbert_linear.weight` [out × hidden]
    * matrix, scaled `sum / QS / 1024` and l2-normalized per token. */
  def q99_learned_colbert: String = {
    val H = graft.backend.AttnBank.Hidden
    val CO = graft.backend.ColbertHeadBank.OutDim
    val dim = graft.backend.EmbTableBank.Dim
    def hk(i: String) = s"((($i) + 6001) * $B3 + $C3) % 4001 - 2000"
    stackedDecoderSql(
      s"""${wordpieceCtes()},
sel AS (SELECT doc_id, list_slice(s2, 1, $q95MaxLen) AS tids, least(len(s2), $q95MaxLen) AS n FROM sq WHERE len(s2) > 2)""",
      (t, d) => s"CAST(floor((((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000)::DOUBLE / 1024.0 * 1000000.0 + 0.5) AS BIGINT)",
      tail = Some(s""",
tl AS (SELECT doc_id, CAST(generate_subscripts(r2l, 1) - 1 AS BIGINT) AS tpos, unnest(r2l) AS st FROM br2),
ck AS (SELECT doc_id, tpos - 1 AS pos,
  list_transform(range(0, $CO), k -> (list_reduce(list_transform(range(0, $H), d -> st[d + 1] * (${hk(s"k * $H + d")})), (a,b) -> a + b))::DOUBLE / 1000000.0 / 1024.0) AS y FROM tl WHERE tpos >= 1),
nr2 AS (SELECT doc_id, pos, y, sqrt(list_reduce(list_transform(y, v -> v * v), (a,b) -> a + b)) AS nv FROM ck),
cv AS (SELECT doc_id, pos, list_transform(y, x -> x / (nv + 1e-12)) AS cv FROM nr2)
SELECT doc_id, pos, CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim, unnest(cv) AS val FROM cv"""),
      allPositions = true)
  }

  /** q100: SPLADE-style sparse extraction through the TIED vocab
    * head — `tie_word_embeddings` (qwen3.rs:39, true in the
    * reference's Qwen3 configs :1491) makes the output projection the
    * `embed_tokens` table itself: token j's logit for vocab id v is
    * the exact int64 dot of its post-stack state with the learned
    * row; relu, max-merge across tokens (impl.rs:229's rectify, the
    * established no-ln gate form), zeros dropped. */
  def q100_tied_sparse: String = {
    val H = graft.backend.AttnBank.Hidden
    val V = graft.backend.EmbTableBank.VocabSize
    val dim = graft.backend.EmbTableBank.Dim
    def ek(i: String) = s"((($i) + 1) * $C3 + $B3) % 4001 - 2000"
    stackedDecoderSql(
      s"""${bpeCtes()},
sel AS (SELECT doc_id, list_slice(body, 1, $q95MaxLen) AS tids, least(len(body), $q95MaxLen) AS n FROM perdoc)""",
      (t, d) => s"CAST(floor((((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000)::DOUBLE / 1024.0 * 1000000.0 + 0.5) AS BIGINT)",
      tail = Some(s""",
tl AS (SELECT doc_id, unnest(r2l) AS st FROM br2),
lw AS (SELECT doc_id, list_transform(range(0, $V), v ->
  greatest(list_reduce(list_transform(range(0, $H), d -> st[d + 1] * (${ek(s"v * $H + d")})), (a,b) -> a + b), 0)) AS lw FROM tl),
tv AS (SELECT doc_id, CAST(generate_subscripts(lw, 1) - 1 AS BIGINT) AS term_id, unnest(lw) AS w FROM lw)
SELECT doc_id, term_id, max(w) AS weight FROM tv GROUP BY doc_id, term_id HAVING max(w) > 0"""),
      allPositions = true)
  }

  /** The shared two-layer stacked-decoder chain: `inputCtes` must be a
    * complete WITH prefix ending in `sel(doc_id, tids, n)` with n ≥ 1;
    * `s0Cell(t, e)` is the layer-0 residual-stream cell (a BIGINT
    * expression at the QS fixed-point scale). `tail`, when given,
    * replaces the default l2+explode epilogue and reads from
    * `fn(doc_id, mn)` — mn is the pooled pre-normalize hidden (the
    * final-norm doubles). */
  private def stackedDecoderSql(inputCtes: String,
                                s0Cell: (String, String) => String,
                                tail: Option[String] = None,
                                allPositions: Boolean = false): String = {
    val epilogue =
      if (allPositions) tail.getOrElse(
        throw new IllegalArgumentException("allPositions requires a custom tail"))
      else tail.getOrElse(defaultL2ExplodeEpilogue)
    s"""$inputCtes,
${decoderChainCtes("", s0Cell, allPositions)}$epilogue"""
  }

  /** Default decoder epilogue over `fn(doc_id, mn)`: l2-normalize and
    * explode to (doc_id, dim, val). */
  private def defaultL2ExplodeEpilogue: String = s""",
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM fn),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""

  /** The decoder forward as PREFIX-NAMED CTEs: reads `${p}sel(doc_id,
    * tids, n)` (n ≥ 1) and emits `${p}fn(doc_id, mn)` — or, with
    * allPositions, ends at `${p}br2(doc_id, n, r2l)` (position-aligned
    * post-stack states; the caller's tail pools/projects). Prefixing
    * lets two independent forwards share one statement — q118 runs the
    * embed chain (`e`) and the candidates-only rerank chain (`r`)
    * side by side. */
  private def decoderChainCtes(p: String, s0Cell: (String, String) => String,
                               allPositions: Boolean = false): String = {
    val H = graft.backend.AttnBank.Hidden
    val NH = graft.backend.AttnBank.NHeads
    val D = graft.backend.AttnBank.HeadDim
    val NKV = graft.backend.AttnBank.NKvHeads
    val qOut = NH * D
    val kvOut = NKV * D
    val g = NH / NKV
    val offK = qOut * H
    val offV = offK + kvOut * H
    val offO = offV + kvOut * H
    val I = graft.backend.MlpBank.Inter
    val offUp = I * H
    val offDown = 2 * I * H
    val aTot = graft.backend.AttnBank.Total
    val mTot = graft.backend.MlpBank.Total
    val g1b1 = graft.backend.LayerBank.gainBase(1)
    val center = graft.backend.GatedMlpBackend.Center
    val qs = "1000000.0"
    def wa(i: String) = s"((($i) + 1) * $A3 + $B3) % 4001 - 2000"
    def wm(i: String) = s"((($i) + 1) * $C3 + $A3) % 4001 - 2000"
    def gain(i: String) = s"(2048 + ((($i) + 1) * $A3 + $C3) % 2049 - 1024)"
    def rmsq(sv: String, gb: Int) =
      s"""list_transform(range(0, $H), e2 -> CAST(floor(((($sv)[e2 + 1]::DOUBLE / $qs) / sqrt(((list_reduce(list_transform($sv, v -> v * v), (a,b) -> a + b))::DOUBLE / $qs / $qs) / $H.0 + 1e-6)) * ((${gain(s"$gb + e2")})::DOUBLE / 2048.0) * $qs + 0.5) AS BIGINT))"""
    def projA(sv: String, off: String, d: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wa(s"($off) + ($d) * $H + e")}) * ($sv)[e + 1]), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    def projM(sv: String, off: String, d: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wm(s"($off) + ($d) * $H + e")}) * ($sv)[e + 1]), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    def rot(sv: String, p: String, off: String) = {
      val u = s"(($p) + ((i % $D) // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = projA(sv, off, s"i - (i % 2)")
      val e1 = projA(sv, off, s"i - (i % 2) + 1")
      s"(CASE WHEN i % 2 = 0 THEN ((($e0 * $c - $e1 * $sn) % $M3) + $M3) % $M3" +
        s" ELSE ((($e0 * $sn + $e1 * $c) % $M3) + $M3) % $M3 END)"
    }
    /** One decoder layer as a CTE chain. `states` is the input-state
      * list column in `from`; queries are range(1, qCount+1) with the
      * query POSITION given by qVal (an expression in lambda var qi).
      * Emits `{p}r2(doc_id, n, r2l)` with r2l aligned to the query
      * list. */
    def layerChain(p: String, states: String, from: String,
                   aOff: Int, mOff: Int, g1b: Int, g2b: Int,
                   qCount: String, qVal: String): String =
      s"""${p}x1 AS (SELECT doc_id, n, $states AS st,
  list_transform(range(1, n + 1), j -> ${rmsq(s"($states)[j]", g1b)}) AS x1l FROM $from),
${p}kv AS (SELECT doc_id, n, st, x1l,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${rot("x1l[j]", "j - 1", (aOff + offK).toString)})) AS kl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $kvOut), i -> ${projA("x1l[j]", (aOff + offV).toString, "i")})) AS vl FROM ${p}x1),
${p}qv AS (SELECT doc_id, n, st, kl, vl,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $qOut), i -> ${rot(s"x1l[$qVal]", s"$qVal - 1", aOff.toString)})) AS qla FROM ${p}kv),
${p}ws AS (SELECT doc_id, n, st, vl, qla,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(1, $qVal + 1), j ->
      list_transform(range(0, $NH), hn ->
        (list_reduce(list_transform(range(0, $D), d ->
          qla[qi][hn * $D + d + 1] * kl[j][(hn // $g) * $D + d + 1]), (a,b) -> a + b) % $M3) + 1))) AS w FROM ${p}qv),
${p}ys AS (SELECT doc_id, n, st,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $NH), hn ->
      list_reduce(list_transform(range(1, $qVal + 1), j -> w[qi][j][hn + 1]), (a,b) -> a + b))) AS tw,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $qOut), i ->
      list_reduce(list_transform(range(1, $qVal + 1), j ->
        w[qi][j][(i // $D) + 1] * vl[j][((i // $D) // $g) * $D + (i % $D) + 1]), (a,b) -> a + b))) AS y FROM ${p}ws),
${p}zq AS (SELECT doc_id, n, st,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $qOut), i ->
      CAST(floor(((y[qi][i + 1]::DOUBLE / tw[qi][(i // $D) + 1]::DOUBLE / $M3.0) * 2.0 - 1.0) * $qs + 0.5) AS BIGINT))) AS z FROM ${p}ys),
${p}r1 AS (SELECT doc_id, n,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $H), dd ->
      st[$qVal][dd + 1] + CAST(floor((list_reduce(list_transform(range(0, $qOut), e -> (${wa(s"${aOff + offO} + dd * $qOut + e")}) * z[qi][e + 1]), (a,b) -> a + b))::DOUBLE / 1024.0 + 0.5) AS BIGINT))) AS r1l FROM ${p}zq),
${p}x2 AS (SELECT doc_id, n, r1l,
  list_transform(range(1, $qCount + 1), qi -> ${rmsq("r1l[qi]", g2b)}) AS x2l FROM ${p}r1),
${p}av AS (SELECT doc_id, n, r1l,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $I), i ->
      greatest(${projM("x2l[qi]", mOff.toString, "i")} - $center, 0) * ${projM("x2l[qi]", (mOff + offUp).toString, "i")})) AS al FROM ${p}x2),
${p}r2 AS (SELECT doc_id, n,
  list_transform(range(1, $qCount + 1), qi ->
    list_transform(range(0, $H), d ->
      r1l[qi][d + 1] + CAST(floor(((list_reduce(list_transform(range(0, $I), i -> (${wm(s"$mOff + $offDown + d * $I + i")}) * al[qi][i + 1]), (a,b) -> a + b))::DOUBLE / 1024.0 / $M3.0 / $M3.0) * $qs + 0.5) AS BIGINT))) AS r2l FROM ${p}av)"""
    val chainB =
      if (allPositions) layerChain(p + "b", "r2l", p + "ar2", aTot, mTot, g1b1, g1b1 + H, "n", "qi")
      else layerChain(p + "b", "r2l", p + "ar2", aTot, mTot, g1b1, g1b1 + H, "1", "n")
    // with allPositions the chain ends at ${p}br2 (a custom tail reads
    // the position-aligned states); otherwise ${p}fn is the pooled
    // final-norm hidden
    val fnCte =
      if (allPositions) ""
      else s""",
${p}fn AS (SELECT doc_id,
  list_transform(range(0, $H), e2 ->
    ((r2l[1][e2 + 1]::DOUBLE / $qs) / sqrt(((list_reduce(list_transform(r2l[1], v -> v * v), (a,b) -> a + b))::DOUBLE / $qs / $qs) / $H.0 + 1e-6)) * ((${gain(s"${2 * H} + e2")})::DOUBLE / 2048.0)) AS mn FROM ${p}br2)"""
    s"""${p}s0c AS (SELECT doc_id, n,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $H), e -> ${s0Cell("tids[j]", "e")})) AS s0l FROM ${p}sel),
${layerChain(p + "a", "s0l", p + "s0c", 0, 0, 0, H, "n", "qi")},
$chainB$fnCte"""
  }

  /** q104 sequence cap: bounds the bidirectional O(n²) per-layer pass;
    * shared by the Spark query and the oracle. */
  val q104MaxLen: Int = 48

  /** q104: the COMPLETE learned NomicBert-MoE model
    * ([[graft.backend.NomicModelBackend]]) — WordPiece ids → learned
    * `embeddings.word_embeddings` + `token_type_embeddings` row 0 →
    * `emb_ln` LayerNorm → two POST-norm blocks (bidirectional combined-
    * Wqkv attention with biases and non-interleaved partial rotary;
    * layer 0 a standard fc1/fc2 MLP, layer 1 the learned megablocks
    * MoE) → masked mean pool → l2. Every constant recomputes the
    * [[graft.backend.NomicBank]] generating streams the Spark side
    * reads from the two-shard safetensors checkpoint (NomicBankSpec
    * pins them equal); every double op mirrors the backend term for
    * term. */
  def q104_nomic_model: String = {
    import graft.backend.NomicBank._
    val H = Hidden
    val D = HeadDim
    val hf = RotaryDim / 2
    val I = Inter
    val NE = NExperts
    val qOut = NHeads * HeadDim
    val ctr = graft.backend.GatedMlpBackend.Center
    val qs = "1000000.0"
    def wk(i: String) = s"(((($i) + 1 + 20000) * $B3 + $A3) % 4001 - 2000)"
    def gn(i: String) = s"(2048 + ((($i) + 1) * $B3 + $C3) % 2049 - 1024)"
    // LayerNorm over a list-of-lists column: mean/var in doubles per
    // inner list (left-to-right list_reduce = the backend's loops),
    // eps 1e-5, gain (1 + k/2048), bias k/1024, floor-round to QS
    def lnList(listVar: String, gb: Int, bb: Int): String = {
      val mu = s"((list_reduce(s, (a,b) -> a + b))::DOUBLE / $qs / $H.0)"
      s"""list_transform($listVar, s -> list_transform(range(0, $H), e2 ->
  CAST(floor(((s[e2 + 1]::DOUBLE / $qs - $mu) / sqrt(list_reduce(list_transform(s, v -> (v::DOUBLE / $qs - $mu) * (v::DOUBLE / $qs - $mu)), (a,b) -> a + b) / $H.0 + 1e-5) * ((${gn(s"$gb + e2")})::DOUBLE / 2048.0) + (${wk(s"$bb + e2")})::DOUBLE / 1024.0) * $qs + 0.5) AS BIGINT)))"""
    }
    // combined-Wqkv row r (+ bias) of layer base b, reduced into [0, M3)
    def pq(sv: String, b: Int, r: String) =
      s"(((list_reduce(list_transform(range(0, $H), e -> (${wk(s"$b + ($r) * $H + e")}) * ($sv)[e + 1]), (a,b) -> a + b) + (${wk(s"$b + $RWqkvB + ($r)")})) % $M3 + $M3) % $M3)"
    // non-interleaved partial rotary at output index i (lambda var):
    // head-local dims [0, Rd) rotate as halves, the tail passes through
    def rot(sv: String, b: Int, ro: Int, p: String): String = {
      val u = s"(($p) + ((i % $D) % $hf) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val a = pq(sv, b, s"$ro + i - (i % $D) + ((i % $D) % $hf)")
      val bb = pq(sv, b, s"$ro + i - (i % $D) + ((i % $D) % $hf) + $hf")
      s"(CASE WHEN i % $D >= $RotaryDim THEN ${pq(sv, b, s"$ro + i")} " +
        s"WHEN i % $D < $hf THEN ((($a) * $c - ($bb) * $sn) % $M3 + $M3) % $M3 " +
        s"ELSE ((($bb) * $c + ($a) * $sn) % $M3 + $M3) % $M3 END)"
    }
    // one post-norm block: stl (list of QS states) -> ol
    def layer(p: String, from: String, statesCol: String, l: Int): String = {
      val b = layerBase(l)
      val mlpCtes =
        if (l % 2 == 0)
          s"""${p}av AS (SELECT doc_id, n, h1l,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $I), i -> greatest((((list_reduce(list_transform(range(0, $H), e -> (${wk(s"$b + $RFc1 + i * $H + e")}) * h1l[qi][e + 1]), (a,b) -> a + b) + (${wk(s"$b + $RFc1B + i")})) % $M3 + $M3) % $M3) - $ctr, 0))) AS al FROM ${p}h1),
${p}ml AS (SELECT doc_id, n, h1l,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $H), d ->
      CAST(floor(((list_reduce(list_transform(range(0, $I), i -> (${wk(s"$b + $RFc2 + d * $I + i")}) * al[qi][i + 1]), (a,b) -> a + b))::DOUBLE / 1024.0 / $M3.0 + (${wk(s"$b + $RFc2B + d")})::DOUBLE / 1024.0) * $qs + 0.5) AS BIGINT))) AS ml FROM ${p}av)"""
        else {
          def up(ex: String, i: String) =
            s"greatest((((list_reduce(list_transform(range(0, $H), e2 -> (${wk(s"$b + $RW1 + (($ex) * $I + ($i)) * $H + e2")}) * h1l[qi][e2 + 1]), (a,b) -> a + b)) % $M3 + $M3) % $M3) - $ctr, 0)"
          def eOut(kv: String) = {
            val ex = s"($NE - 1 - ($kv) % $NE)"
            s"list_reduce(list_transform(range(0, $I), i -> (${up(ex, "i")}) * (${wk(s"$b + $RW2 + ($ex * $I + i) * $H + d")})), (a,b) -> a + b)"
          }
          s"""${p}rs AS (SELECT doc_id, n, h1l,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $NE), e -> ((list_reduce(list_transform(range(0, $H), e2 -> (${wk(s"$b + $RRouter + e * $H + e2")}) * h1l[qi][e2 + 1]), (a,b) -> a + b)) % $M3 + $M3) % $M3)) AS sc FROM ${p}h1),
${p}ks AS (SELECT doc_id, n, h1l, sc,
  list_transform(range(1, n + 1), qi -> list_reduce(list_transform(range(0, $NE), e -> sc[qi][e + 1] * $NE + ($NE - 1 - e)), (a,b) -> greatest(a, b))) AS k1,
  list_transform(range(1, n + 1), qi -> list_reduce(sc[qi], (a,b) -> a + b) + $NE) AS denom FROM ${p}rs),
${p}k2 AS (SELECT doc_id, n, h1l, sc, k1, denom,
  list_transform(range(1, n + 1), qi -> list_reduce(list_filter(list_transform(range(0, $NE), e -> sc[qi][e + 1] * $NE + ($NE - 1 - e)), x -> x != k1[qi]), (a,b) -> greatest(a, b))) AS k2 FROM ${p}ks),
${p}ml AS (SELECT doc_id, n, h1l,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $H), d ->
      CAST(floor((((k1[qi] // $NE + 1) * (${eOut("k1[qi]")}) + (k2[qi] // $NE + 1) * (${eOut("k2[qi]")}))::DOUBLE / denom[qi]::DOUBLE / 1024.0 / $M3.0 + (${wk(s"$b + $REb + d")})::DOUBLE / 1024.0) * $qs + 0.5) AS BIGINT))) AS ml FROM ${p}k2)"""
        }
      s"""${p}kv AS (SELECT doc_id, n, $statesCol AS stl,
  list_transform(range(1, n + 1), j -> list_transform(range(0, $qOut), i -> ${rot(s"($statesCol)[j]", b, 0, "j - 1")})) AS ql,
  list_transform(range(1, n + 1), j -> list_transform(range(0, $qOut), i -> ${rot(s"($statesCol)[j]", b, H, "j - 1")})) AS kl,
  list_transform(range(1, n + 1), j -> list_transform(range(0, $qOut), i -> ${pq(s"($statesCol)[j]", b, s"${2 * H} + i")})) AS vl FROM $from),
${p}ws AS (SELECT doc_id, n, stl, vl,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(1, n + 1), j ->
      list_transform(range(0, $NHeads), hn ->
        (list_reduce(list_transform(range(0, $D), d -> ql[qi][hn * $D + d + 1] * kl[j][hn * $D + d + 1]), (a,b) -> a + b) % $M3) + 1))) AS w FROM ${p}kv),
${p}ys AS (SELECT doc_id, n, stl,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $NHeads), hn -> list_reduce(list_transform(range(1, n + 1), j -> w[qi][j][hn + 1]), (a,b) -> a + b))) AS tw,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $qOut), i -> list_reduce(list_transform(range(1, n + 1), j -> w[qi][j][(i // $D) + 1] * vl[j][i + 1]), (a,b) -> a + b))) AS y FROM ${p}ws),
${p}zq AS (SELECT doc_id, n, stl,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $qOut), i ->
      CAST(floor(((y[qi][i + 1]::DOUBLE / tw[qi][(i // $D) + 1]::DOUBLE / $M3.0) * 2.0 - 1.0) * $qs + 0.5) AS BIGINT))) AS z FROM ${p}ys),
${p}r1 AS (SELECT doc_id, n,
  list_transform(range(1, n + 1), qi ->
    list_transform(range(0, $H), dd ->
      stl[qi][dd + 1] + CAST(floor((list_reduce(list_transform(range(0, $qOut), e -> (${wk(s"$b + $ROut + dd * $qOut + e")}) * z[qi][e + 1]), (a,b) -> a + b) + (${wk(s"$b + $ROutB + dd")}) * 1000000)::DOUBLE / 1024.0 + 0.5) AS BIGINT))) AS r1l FROM ${p}zq),
${p}h1 AS (SELECT doc_id, n, ${lnList("r1l", gN1(l), b + RN1B)} AS h1l FROM ${p}r1),
$mlpCtes,
${p}r2 AS (SELECT doc_id, n, list_transform(range(1, n + 1), qi -> list_transform(range(0, $H), d -> h1l[qi][d + 1] + ml[qi][d + 1])) AS r2l FROM ${p}ml),
${p}o AS (SELECT doc_id, n, ${lnList("r2l", gN2(l), b + RN2B)} AS ol FROM ${p}r2)"""
    }
    s"""${wordpieceCtes()},
sel AS (SELECT doc_id, list_slice(s2, 1, $q104MaxLen) AS tids, least(len(s2), $q104MaxLen) AS n FROM sq WHERE len(s2) > 2),
e0 AS (SELECT doc_id, n, list_transform(range(1, n + 1), j ->
  list_transform(range(0, $H), d -> CAST(floor(((${wk(s"tids[j] * $H + d")}) + (${wk(s"$OffType + d")}))::DOUBLE / 1024.0 * $qs + 0.5) AS BIGINT))) AS s0l FROM sel),
x0 AS (SELECT doc_id, n, ${lnList("s0l", GEmbLn, OffEmbLnB)} AS x0l FROM e0),
${layer("a", "x0", "x0l", 0)},
${layer("b", "ao", "ol", 1)},
pl AS (SELECT doc_id, list_transform(range(0, $H), d -> (list_reduce(list_transform(range(1, n + 1), j -> ol[j][d + 1]), (a,b) -> a + b))::DOUBLE / n::DOUBLE / $qs) AS mn FROM bo),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v * v), (a,b) -> a + b)) AS nv FROM pl),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q70: the MoE-routing backend ([[graft.backend.MoEBackend]]) as a
    * RELATIONAL recompute — legal because each token's mixed expert
    * output is quantized to an exact long before the cross-token sum, so
    * pooling is order-free GROUP BY arithmetic. Per token: score all E
    * experts, pick top-2 by (score desc, index asc) via the packed key
    * s·E + (E−1−e), mix the two experts' cells with UN-renormalized
    * rational gate weights (s+1)/Σ(s+1), add the shared bias, quantize;
    * per doc: exact integer mean over tokens, scale, l2 normalize. */
  def q70_moe_embed(dim: Int = 8, nExperts: Int = 8, maxLen: Int = 128): String = {
    val offE = graft.backend.MoEBackend.OffExperts
    moeEmbedSql(dim, nExperts, maxLen,
      e => s"${moeCell("t", s"$offE + ($e) * $dim + d")}")
  }

  /** q83: q70's routing (same keys, gates, bias, quantization) with the
    * LEARNED expert dispatch — expert e's output at dim d is its real
    * [dim × hidden] row dotted with the token's hidden cells, the bank
    * recomputed from its generating formula (the Spark side reads the
    * same values from the one-shard-per-expert checkpoint;
    * ExpertBankSpec pins them equal). */
  def q83_moe_weighted(dim: Int = 8, nExperts: Int = 8, maxLen: Int = 128): String = {
    val hid = graft.backend.ExpertBank.HiddenDim
    moeEmbedSql(dim, nExperts, maxLen,
      e => s"list_reduce(list_transform(range(0, $hid), h -> (((((($e) * $dim + d) * $hid + h + 1) * $A3 + $C3) % 4001) - 2000) * (${moeCell("t", "h")})), (a,b) -> a + b)")
  }

  /** q92: the COMPLETE learned MoE dispatch — q83's learned experts
    * PLUS the learned router ([[graft.backend.RouterBank]], the
    * megablocks `mlp.router.layer.weight` Linear): expert e's logit is
    * its real row dotted with the same hidden cells the experts
    * consume, reduced into [0, M3) so gates and packed top-k keys keep
    * their bounds; routing/mixing/bias/pooling unchanged. */
  def q92_moe_router(dim: Int = 8, nExperts: Int = 8, maxLen: Int = 128): String = {
    val hid = graft.backend.ExpertBank.HiddenDim
    val rhid = graft.backend.RouterBank.HiddenDim
    moeEmbedSql(dim, nExperts, maxLen,
      e => s"list_reduce(list_transform(range(0, $hid), h -> (((((($e) * $dim + d) * $hid + h + 1) * $A3 + $C3) % 4001) - 2000) * (${moeCell("t", "h")})), (a,b) -> a + b)",
      routerTerm = Some(e =>
        s"((list_reduce(list_transform(range(0, $rhid), h -> (((($e) * $rhid + h + 1) * $B3 + $C3) % 3001 - 1500) * (${moeCell("t", "h")})), (a,b) -> a + b) % $M3 + $M3) % $M3)"))
  }

  /** q93: the COMPLETE learned megablocks MoE layer
    * ([[graft.backend.ExpertMlpBank]]) — learned router (q92's rows),
    * TWO-matrix experts (up lane i = centered-ReLU of w1 row
    * (e·inter+i) · hidden, output d = up · w2 column d, un-transposed
    * w2 — nomic_v2_moe.rs:449-452), and the learned shared output
    * bias (:473). Routing/gate/quantization arithmetic unchanged. */
  def q93_moe_megablocks(dim: Int = 8, nExperts: Int = 8, maxLen: Int = 128): String = {
    val inter = graft.backend.ExpertMlpBank.Inter
    val hid = graft.backend.ExpertMlpBank.HiddenDim
    val center = graft.backend.GatedMlpBackend.Center
    def w1k(i: String) = s"((($i) + 1) * $A3 + $B3) % 3001 - 1500"
    def w2k(i: String) = s"((($i) + 1) * $C3 + $B3) % 3001 - 1500"
    moeEmbedSql(dim, nExperts, maxLen,
      e => s"list_reduce(list_transform(range(0, $inter), i -> " +
        s"greatest((list_reduce(list_transform(range(0, $hid), h -> (${w1k(s"(($e) * $inter + i) * $hid + h")}) * (${moeCell("t", "h")})), (a,b) -> a + b) % $M3 + $M3) % $M3 - $center, 0)" +
        s" * (${w2k(s"(($e) * $inter + i) * $hid + d")})), (a,b) -> a + b)",
      routerTerm = Some(e =>
        s"((list_reduce(list_transform(range(0, $hid), h -> (((($e) * $hid + h + 1) * $B3 + $C3) % 3001 - 1500) * (${moeCell("t", "h")})), (a,b) -> a + b) % $M3 + $M3) % $M3)"),
      biasTerm = Some(s"((d + 1) * $A3 + $C3) % 3001 - 1500"))
  }

  private def moeCell(t: String, i: String): String =
    s"((($t) % $M3) * $A3 + ($i) * $B3 + $C3) % $M3"

  /** Shared MoE oracle: per-token top-2 routing via packed keys, gate
    * mix of `expertTerm(expertIndexExpr)` outputs, shared bias,
    * quantized exact mean pool ([[graft.backend.MoEBackend]]). */
  private def moeEmbedSql(dim: Int, nExperts: Int, maxLen: Int,
                          expertTerm: String => String,
                          routerTerm: Option[String => String] = None,
                          biasTerm: Option[String] = None): String = {
    val offR = graft.backend.MoEBackend.OffRouter
    val offB = graft.backend.MoEBackend.OffBias
    def cell(t: String, i: String): String = moeCell(t, i)
    // expert e's router logit (lambda-var expression e): hash cell by
    // default, the learned router row otherwise
    val score: String => String =
      routerTerm.getOrElse((e: String) => cell("t", s"$offR + ($e)"))
    val keyList =
      s"list_transform(range(0, $nExperts), e -> (${score("e")}) * $nExperts + ($nExperts - 1 - e))"
    s"""WITH tok AS (SELECT doc_id, ${tids("text", maxLen)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
tk AS (SELECT doc_id, n, unnest(tids) AS t FROM sel),
r AS (SELECT doc_id, n, t,
  list_reduce(list_transform(range(0, $nExperts), e -> (${score("e")}) + 1), (a,b) -> a + b) AS denom,
  list_reduce($keyList, (a,b) -> greatest(a,b)) AS k1 FROM tk),
r2 AS (SELECT doc_id, n, t, denom, k1,
  list_reduce(list_filter($keyList, x -> x != k1), (a,b) -> greatest(a,b)) AS k2 FROM r),
v AS (SELECT doc_id, n, t, denom, k1, k2, unnest(range(0, $dim)) AS d FROM r2),
vq AS (SELECT doc_id, n, d,
  CAST(floor((((k1 // $nExperts + 1) * (${expertTerm(s"$nExperts - 1 - k1 % $nExperts")})
     + (k2 // $nExperts + 1) * (${expertTerm(s"$nExperts - 1 - k2 % $nExperts")})
     + (${biasTerm.getOrElse(cell("1", s"$offB + d"))}) * denom)::DOUBLE / denom::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q FROM v),
s AS (SELECT doc_id, d, sum(q) AS sv, max(n) AS n FROM vq GROUP BY doc_id, d),
m AS (SELECT doc_id, d, (sv::DOUBLE / n::DOUBLE / 1000000.0 / (2.0 * $M3.0)) * 2.0 - 1.0 AS mn FROM s),
nr AS (SELECT doc_id, list(mn ORDER BY d) AS mnl FROM m GROUP BY doc_id),
n2 AS (SELECT doc_id, mnl, sqrt(list_reduce(list_transform(mnl, y -> y*y), (a,b) -> a + b)) AS nv FROM nr),
emb AS (SELECT doc_id, list_transform(mnl, x -> x / (nv + 1e-12)) AS emb FROM n2)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q69: Qwen3-VL patch extraction over the PNG fixture (lossless
    * round-trip: channel c of pixel (y,x) = byte[(3·(y·8+x)+c) % n], the
    * q23b property). 8×8 at factor 4 smart-resizes to itself, so the
    * oracle maps (tok, idx) straight back to source bytes through the
    * reference's merge-block patch order (qwen3.rs:298-326) and applies
    * CLIP rescale+normalize. grid 4×4, merge 2 → 16 patch tokens of
    * 3·1·2·2 = 12 values. */
  def q69_vl_patches: String =
    s"""WITH cst AS (SELECT [0.48145466, 0.4578275, 0.40821073] AS mn, [0.26862954, 0.26130258, 0.27577711] AS sd),
b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents),
t1 AS (SELECT doc_id, bs, unnest(range(0, 16)) AS tok FROM b),
t2 AS (SELECT doc_id, bs, tok, unnest(range(0, 12)) AS idx FROM t1),
g AS (SELECT doc_id, bs, tok, idx,
  (tok // 8) * 2 + (tok // 2) % 2 AS gh, ((tok // 4) % 2) * 2 + tok % 2 AS gw,
  idx // 4 AS c, (idx % 4) // 2 AS ph, idx % 2 AS pw FROM t2),
p AS (SELECT doc_id, tok, idx, c,
  bs[(3 * ((gh * 2 + ph) * 8 + (gw * 2 + pw)) + c) % len(bs) + 1] AS px FROM g)
SELECT doc_id, tok, idx,
  (px::DOUBLE * (CAST(1 AS DOUBLE)/CAST(255 AS DOUBLE)) - mn[c + 1]::DOUBLE) / sd[c + 1]::DOUBLE AS val
FROM p, cst"""

  /** Shared merged-token SQL of the vision tower: `attend = true` is the
    * main (windowed-attention) route, `false` the deepstack raw-value
    * route; `cellBase` selects the merger's projection slice. Mirrors
    * `VlPreprocess.windowedMergeTokens` parameter for parameter. */
  private def vlMergedTokensSql(attend: Boolean, cellBase: Long,
                                learnedOffset: Option[Int] = None): String = {
    // quantized patch value i of merge-ordered patch `tok` (q69 byte map)
    val qcell =
      s"""CAST(floor(((bs[(3 * (((tok2 // 8) * 2 + (tok2 // 2) % 2) * 2 + (i % 4) // 2) * 8
 + (3 * ((((tok2 // 4) % 2) * 2 + tok2 % 2) * 2 + i % 2) + i // 4)) % len(bs) + 1]::DOUBLE
 * (CAST(1 AS DOUBLE)/CAST(255 AS DOUBLE)) - mn[i // 4 + 1]::DOUBLE) / sd[i // 4 + 1]::DOUBLE) * 1000.0 + 0.5) AS BIGINT) + 2000"""
    val hqCtes =
      if (attend)
        s"""sm AS (SELECT doc_id, qs, tk,
  list_transform(range(0, 4), p -> list_transform(range(0, 4), q ->
    (list_reduce(list_transform(range(1, 13), i -> qs[4*tk + p + 1][i] * qs[4*tk + q + 1][i]), (a,b) -> a + b) % $M3) + 1)) AS smat FROM w1),
hq AS (SELECT doc_id, tk, list_transform(range(0, 48), j ->
  CAST(floor((list_reduce(list_transform(range(0, 4), q -> smat[j // 12 + 1][q + 1] * qs[4*tk + q + 1][j % 12 + 1]), (a,b) -> a + b)::DOUBLE
    / list_reduce(smat[j // 12 + 1], (a,b) -> a + b)::DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS hq FROM sm)"""
      else
        s"""hq AS (SELECT doc_id, tk, list_transform(range(0, 48), j ->
  qs[4*tk + j // 12 + 1][j % 12 + 1]) AS hq FROM w1)"""
    s"""WITH cst AS (SELECT [0.48145466, 0.4578275, 0.40821073] AS mn, [0.26862954, 0.26130258, 0.27577711] AS sd),
b AS (SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS bs FROM documents),
qs AS (SELECT doc_id, list_transform(range(0, 16), tok2 -> list_transform(range(0, 12), i -> $qcell)) AS qs FROM b, cst),
w1 AS (SELECT doc_id, qs, unnest(range(0, 4)) AS tk FROM qs),
$hqCtes,
m AS (SELECT doc_id, tk, list_transform(range(0, 16), d ->
  ${learnedOffset match {
    case Some(off) =>
      s"list_reduce(list_transform(range(0, 48), j -> ((($off + d * 48 + j + 1) * $B3 + $C3) % 4001 - 2000) * hq[j + 1]), (a,b) -> a + b)::DOUBLE"
    case None =>
      s"(list_reduce(list_transform(range(0, 48), j -> (hq[j + 1] * $A + ($cellBase + j * 16 + d) * $B + $C) % $M), (a,b) -> a + b)::DOUBLE / 48.0 / $M.0) * 2.0 - 1.0"}}) AS mnl FROM hq),
nr AS (SELECT doc_id, tk, mnl, sqrt(list_reduce(list_transform(mnl, v -> v*v), (a,b) -> a + b)) AS nv FROM m),
emb AS (SELECT doc_id, tk AS tok, list_transform(mnl, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, tok, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q71: windowed attention + PatchMerger
    * ([[graft.operators.VlPreprocess.windowedMergeTokens]]) recomputed
    * relationally: per doc, the 16 merge-ordered patch tokens quantize
    * (q23's floor(v·1000+0.5)+2000), attend bidirectionally WITHIN their
    * 4-token merge window (integer scores, one rational division per
    * attended value, re-quantized), then each window's 48 concatenated
    * values project through position-indexed hash cells to 16 dims. */
  def q71_vl_window_merge: String = vlMergedTokensSql(attend = true, cellBase = 0L)

  /** q85: the windowed-attention chain with the LEARNED PatchMerger
    * MLP — out = l2norm(W·hq) in exact int64, bank recomputed from its
    * formula (the Spark side reads model.safetensors, MergerBankSpec
    * pins them equal). */
  def q85_vl_learned_merger: String =
    vlMergedTokensSql(attend = true, cellBase = 0L, learnedOffset = Some(0))

  /** Shared fused-span SQL: the q72 text/span layout with a pluggable
    * vision-value subquery `(vid, vtok, vval)`. */
  private def fusedSpanSql(visSql: String, maxLen: Int, nImg: Int,
                           withK: Boolean = false): String = {
    val img = M // the planted image-pad id — outside the [0, M) token range
    val kOut = if (withK) ", f.k" else ""
    s"""WITH tok AS (SELECT doc_id, ${tids("text", maxLen)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
aug AS (SELECT doc_id, CAST(least(3, n) AS BIGINT) AS k, list_concat(list_concat(
  list_slice(tids, 1, least(3, n)), [${Seq.fill(nImg)(img).mkString(", ")}]),
  list_slice(tids, least(3, n) + 1, n)) AS a FROM sel),
e AS (SELECT doc_id, k, CAST(generate_subscripts(a, 1) - 1 AS BIGINT) AS pos, unnest(a) AS t FROM aug),
f AS (SELECT doc_id, k, pos, t, CAST(CASE WHEN t = $img THEN 1 ELSE 0 END AS BIGINT) AS is_image,
  CAST(row_number() OVER (PARTITION BY doc_id, CASE WHEN t = $img THEN 1 ELSE 0 END ORDER BY pos) - 1 AS BIGINT) AS img_idx FROM e),
vis AS ($visSql)
SELECT f.doc_id, f.pos, f.is_image,
  CASE WHEN f.is_image = 1 THEN v.vval
       ELSE ((f.t * $A + 0 * $B + $C) % $M)::DOUBLE / $M.0 * 2.0 - 1.0 END AS val$kOut
FROM f LEFT JOIN vis v ON f.doc_id = v.vid AND f.is_image = 1 AND f.img_idx = v.vtok"""
  }

  /** q72: multimodal fusion (qwen3.rs:176-191 find_token_spans +
    * :1397-1418 slice_assign): a 4-token image-pad span planted after
    * the first min(3, n) tokens, vision tokens (the q71 chain, dim 0)
    * consumed over it in position order via row_number; text positions
    * keep their token-cell value. */
  def q72_mm_fusion(maxLen: Int = 24, nImg: Int = 4): String =
    fusedSpanSql(
      s"SELECT doc_id AS vid, tok AS vtok, val AS vval FROM ($q71_vl_window_merge) q71sub WHERE dim = 0",
      maxLen, nImg)

  /** q75: deepstack injection (qwen3.rs:1421-1448): image positions
    * carry the main merged token PLUS the deepstack merger's additive
    * feature (both dim 0), mirroring the per-layer slice_assign-and-add
    * of deepstack features over the image span. */
  def q75_mm_deepstack(maxLen: Int = 24, nImg: Int = 4): String =
    fusedSpanSql(
      s"""SELECT v1.doc_id AS vid, v1.tok AS vtok, v1.val + v2.val AS vval
  FROM (${vlMergedTokensSql(attend = true, cellBase = 0L)}) v1
  JOIN (${vlMergedTokensSql(attend = false,
        cellBase = graft.operators.VlPreprocess.DeepstackCellBase)}) v2
    ON v1.doc_id = v2.doc_id AND v1.tok = v2.tok AND v1.dim = v2.dim
  WHERE v1.dim = 0""",
      maxLen, nImg)

  /** q78: the `embed_image` end-to-end composition
    * (qwen3.rs:1397-1452): the q75 fused-with-deepstack sequence,
    * quantized into [0, M3) pseudo-ids, walked through ONE q68-style
    * integer attention forward whose rotation position for head-dim
    * pair h comes from MRoPE plane h mod 3 (the t/h/w ids of q73's
    * grid), last-token pooled and l2-normalized. Mirrors
    * [[graft.backend.VlForward.embed]] term for term. */
  def q78_vl_embed(dim: Int = 8, maxLen: Int = 24, nImg: Int = 4): String = {
    val fused = fusedSpanSql(
      s"""SELECT v1.doc_id AS vid, v1.tok AS vtok, v1.val + v2.val AS vval
  FROM (${vlMergedTokensSql(attend = true, cellBase = 0L)}) v1
  JOIN (${vlMergedTokensSql(attend = false,
        cellBase = graft.operators.VlPreprocess.DeepstackCellBase)}) v2
    ON v1.doc_id = v2.doc_id AND v1.tok = v2.tok AND v1.dim = v2.dim
  WHERE v1.dim = 0""",
      maxLen, nImg, withK = true)
    def emb(t: String, d: String): String =
      s"((($t) % $M3) * $A3 + ($d) * $B3 + $C3) % $M3"
    // qk(j): rotated cell at lambda var d; the rotation position is the
    // (d//2 mod 3)-th MRoPE plane of sequence index j
    def qk(j: String): String = {
      val p = s"(CASE (d // 2) % 3 WHEN 0 THEN ptl[$j] WHEN 1 THEN phl[$j] ELSE pwl[$j] END)"
      val u = s"($p + (d // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = emb(s"fl[$j]", "d - (d % 2)")
      val e1 = emb(s"fl[$j]", "d - (d % 2) + 1")
      s"(CASE WHEN d % 2 = 0 THEN (((($e0) * $c - ($e1) * $sn) % $M3) + $M3) % $M3" +
        s" ELSE (((($e0) * $sn + ($e1) * $c) % $M3) + $M3) % $M3 END)"
    }
    val st = "greatest(greatest(k - 1, 0), k + 1) + 1"
    def pid(imageVal: String): String =
      s"CASE WHEN pos < k THEN pos WHEN pos < k + $nImg THEN $imageVal ELSE $st + (pos - (k + $nImg)) END"
    s"""WITH fused AS (SELECT * FROM ($fused) fsub),
fz AS (SELECT doc_id, pos,
  ((CAST(floor(val * 1000000.0 + 0.5) AS BIGINT) % $M3) + $M3) % $M3 AS fid,
  ${pid("k + (pos - k) // 4")} AS pt,
  ${pid("k + ((pos - k) // 2) % 2")} AS ph,
  ${pid("k + (pos - k) % 2")} AS pw
  FROM fused),
gl AS (SELECT doc_id, list(fid ORDER BY pos) AS fl, list(pt ORDER BY pos) AS ptl,
  list(ph ORDER BY pos) AS phl, list(pw ORDER BY pos) AS pwl, count(*)::BIGINT AS n
  FROM fz GROUP BY doc_id),
qv AS (SELECT doc_id, fl, ptl, phl, pwl, n,
  list_transform(range(0, $dim), d -> ${qk("n")}) AS ql FROM gl),
ws AS (SELECT doc_id, fl, n,
  list_transform(range(1, n + 1), j ->
    (list_reduce(list_transform(range(0, $dim), d -> ${qk("j")} * ql[d + 1]), (a,b) -> a + b) % $M3) + 1) AS w FROM qv),
ys AS (SELECT doc_id, fl, n, list_reduce(w, (a,b) -> a + b) AS tw,
  list_transform(range(0, $dim), d ->
    list_reduce(list_transform(range(1, n + 1), j -> w[j] * (${emb("fl[j]", "d")})), (a,b) -> a + b)) AS y FROM ws),
m AS (SELECT doc_id, list_transform(y, yv -> (yv::DOUBLE / tw::DOUBLE / $M3.0) * 2.0 - 1.0) AS mn FROM ys),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q91: the LEARNED fused-sequence (multimodal) forward — q78's
    * fused values and MRoPE planes, but the attention runs through the
    * real q/k/v/o projections of [[graft.backend.VlAttnBank]] (one
    * head of head_dim 8, so sections t,h,w,t all steer angles), with
    * the q86 tail: quantized mix, o_proj matmul in exact int64, l2. */
  def q91_vl_learned(maxLen: Int = 24, nImg: Int = 4,
                     learnedMergers: Boolean = false): String = {
    val H = graft.backend.VlAttnBank.Hidden
    val HD = graft.backend.VlAttnBank.HeadDim
    val offK = graft.backend.VlAttnBank.OffK
    val offV = graft.backend.VlAttnBank.OffV
    val offO = graft.backend.VlAttnBank.OffO
    val qs = "1000000.0"
    val mainOff = if (learnedMergers) Some(0) else None
    val deepOff = if (learnedMergers) Some(graft.backend.MergerBank.Total) else None
    val fused = fusedSpanSql(
      s"""SELECT v1.doc_id AS vid, v1.tok AS vtok, v1.val + v2.val AS vval
  FROM (${vlMergedTokensSql(attend = true, cellBase = 0L, learnedOffset = mainOff)}) v1
  JOIN (${vlMergedTokensSql(attend = false,
        cellBase = graft.operators.VlPreprocess.DeepstackCellBase,
        learnedOffset = deepOff)}) v2
    ON v1.doc_id = v2.doc_id AND v1.tok = v2.tok AND v1.dim = v2.dim
  WHERE v1.dim = 0""",
      maxLen, nImg, withK = true)
    def wv(i: String) = s"((($i) + 1) * $B3 + $A3) % 3001 - 1500"
    def embx(t: String, e: String) = s"((($t) % $M3) * $A3 + ($e) * $B3 + $C3) % $M3"
    def proj(t: String, off: String, d: String) =
      s"((list_reduce(list_transform(range(0, $H), e -> (${wv(s"($off) + ($d) * $H + e")}) * (${embx(t, "e")})), (a,b) -> a + b) % $M3 + $M3) % $M3)"
    // rotated learned projection at lambda var i: pair gp = i // 2
    // takes its rotation id from MRoPE plane gp mod 3 of index j
    def rot(j: String, off: String) = {
      val p = s"(CASE (i // 2) % 3 WHEN 0 THEN ptl[$j] WHEN 1 THEN phl[$j] ELSE pwl[$j] END)"
      val u = s"($p + (i // 2) + 2)"
      val c = s"($u * $u - 1)"
      val sn = s"(2 * $u)"
      val e0 = proj(s"fl[$j]", off, "i - (i % 2)")
      val e1 = proj(s"fl[$j]", off, "i - (i % 2) + 1")
      s"(CASE WHEN i % 2 = 0 THEN ((($e0 * $c - $e1 * $sn) % $M3) + $M3) % $M3" +
        s" ELSE ((($e0 * $sn + $e1 * $c) % $M3) + $M3) % $M3 END)"
    }
    val st = "greatest(greatest(k - 1, 0), k + 1) + 1"
    def pid(imageVal: String): String =
      s"CASE WHEN pos < k THEN pos WHEN pos < k + $nImg THEN $imageVal ELSE $st + (pos - (k + $nImg)) END"
    s"""WITH fused AS (SELECT * FROM ($fused) fsub),
fz AS (SELECT doc_id, pos,
  ((CAST(floor(val * 1000000.0 + 0.5) AS BIGINT) % $M3) + $M3) % $M3 AS fid,
  ${pid("k + (pos - k) // 4")} AS pt,
  ${pid("k + ((pos - k) // 2) % 2")} AS ph,
  ${pid("k + (pos - k) % 2")} AS pw
  FROM fused),
gl AS (SELECT doc_id, list(fid ORDER BY pos) AS fl, list(pt ORDER BY pos) AS ptl,
  list(ph ORDER BY pos) AS phl, list(pw ORDER BY pos) AS pwl, count(*)::BIGINT AS n
  FROM fz GROUP BY doc_id),
qv AS (SELECT doc_id, fl, ptl, phl, pwl, n,
  list_transform(range(0, $HD), i -> ${rot("n", "0")}) AS ql FROM gl),
kv AS (SELECT doc_id, fl, n, ql,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $HD), i -> ${rot("j", offK.toString)})) AS kl,
  list_transform(range(1, n + 1), j ->
    list_transform(range(0, $HD), i -> ${proj("fl[j]", offV.toString, "i")})) AS vl FROM qv),
ws AS (SELECT doc_id, n, vl,
  list_transform(range(1, n + 1), j ->
    (list_reduce(list_transform(range(0, $HD), d -> ql[d + 1] * kl[j][d + 1]), (a,b) -> a + b) % $M3) + 1) AS w FROM kv),
ys AS (SELECT doc_id, n, list_reduce(w, (a,b) -> a + b) AS tw,
  list_transform(range(0, $HD), d ->
    list_reduce(list_transform(range(1, n + 1), j -> w[j] * vl[j][d + 1]), (a,b) -> a + b)) AS y FROM ws),
zq AS (SELECT doc_id,
  list_transform(range(0, $HD), i ->
    CAST(floor(((y[i + 1]::DOUBLE / tw::DOUBLE / $M3.0) * 2.0 - 1.0) * $qs + 0.5) AS BIGINT)) AS z FROM ys),
ov AS (SELECT doc_id,
  list_transform(range(0, $H), dd ->
    list_reduce(list_transform(range(0, $HD), e -> (${wv(s"$offO + dd * $HD + e")}) * z[e + 1]), (a,b) -> a + b)::DOUBLE / $qs) AS mn FROM zq),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, v -> v*v), (a,b) -> a + b)) AS nv FROM ov),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""
  }

  /** q76: the learned-weight BGE-M3 sparse linear
    * (bgem3_weights.rs:14-43, impl.rs:256-304): integer-grid dot of the
    * (token, position) hidden stream against the weight bank, + bias,
    * relu, strictly-positive keep, max-merge per (doc, token). The
    * oracle recomputes the bank from its generating formula
    * k(d) = ((d+1)·B3 + A3) mod 4001 − 2000; the Spark side reads the
    * same values out of the sharded safetensors container bytes —
    * SparseLinearBankSpec pins the two equal, so a byte-level container
    * regression breaks the spec while this gate pins the arithmetic. */
  def q76_weighted_sparse: String = {
    val dim = graft.backend.SparseLinearBank.Dim
    val sc = graft.backend.SparseLinearBank.Scale
    val bq = graft.backend.SparseLinearBank.BiasK
    s"""WITH tok AS (SELECT doc_id, ${tids("text")} AS tids FROM documents),
e AS (SELECT doc_id, CAST(generate_subscripts(tids, 1) - 1 AS BIGINT) AS pos, unnest(tids) AS token_id FROM tok),
dq AS (SELECT doc_id, token_id,
  greatest(0, list_reduce(list_transform(range(0, $dim), i ->
    (((token_id % $M3) * $A3 + i * $B3 + (pos + 1) * $C3) % $M3) * (((i + 1) * $B3 + $A3) % 4001 - 2000)),
    (a, b) -> a + b) + $bq) AS wq
  FROM e WHERE token_id > 3)
SELECT doc_id, token_id, max(wq)::DOUBLE / $sc.0 AS weight
FROM dq WHERE wq > 0 GROUP BY doc_id, token_id"""
  }

  /** q77: greedy longest-match WordPiece over the fixture
    * tokenizer.json vocab (HF semantics — see graft.model.WordPiece).
    * The recursive CTE advances one piece per step: the longest match
    * at the current offset is an argmax over the inlined vocab packed
    * as `len·1000 + id` (two entries of equal length matching the same
    * substring cannot both exist, so the key is unique); a position
    * with no match UNKs the whole word (st = −1). Terminal rows are
    * st = −1 or st = len(word); the doc sequence is the wpos-ordered
    * piece concat wrapped in [CLS]…[SEP]. */
  def q77_wordpiece: String =
    s"""${wordpieceCtes()}
SELECT doc_id, CAST(generate_subscripts(s2, 1) - 1 AS BIGINT) AS pos, unnest(s2) AS token_id FROM sq"""

  /** The shared WordPiece encoding chain, ending in `sq(doc_id, s2)` —
    * s2 is the [CLS]-wrapped piece-id list. */
  private def wordpieceCtes(): String = {
    val wp = graft.model.WordPiece.fixture
    val voc = wp.oracleRows
      .map { case (p, n, c, id) => s"{'p': '$p', 'n': $n, 'c': $c, 'id': $id}" }
      .mkString("[", ", ", "]")
    val maxChars = wp.maxInputChars
    s"""WITH RECURSIVE w0 AS (SELECT doc_id, ${toks("text")} AS ws FROM documents),
words AS (SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS wpos, unnest(ws) AS word FROM w0 WHERE len(ws) > 0),
wp AS (
  SELECT doc_id, wpos, word,
    CASE WHEN len(word) > $maxChars THEN -1 ELSE 0 END AS st,
    CASE WHEN len(word) > $maxChars THEN [CAST(${wp.unkId} AS BIGINT)] ELSE CAST([] AS BIGINT[]) END AS ids
  FROM words
  UNION ALL
  SELECT doc_id, wpos, word,
    CASE WHEN best IS NULL THEN -1 ELSE st + best // 1000 END AS st,
    CASE WHEN best IS NULL THEN [CAST(${wp.unkId} AS BIGINT)] ELSE list_append(ids, CAST(best % 1000 AS BIGINT)) END AS ids
  FROM (
    SELECT doc_id, wpos, word, st, ids,
      list_aggregate(list_transform($voc, v ->
        CASE WHEN v.c = (CASE WHEN st = 0 THEN 0 ELSE 1 END)
              AND substr(word, st + 1, v.n) = v.p
             THEN v.n * 1000 + v.id ELSE NULL END), 'max') AS best
    FROM wp WHERE st >= 0 AND st < len(word)) s),
fin AS (SELECT doc_id, wpos, ids FROM wp WHERE st = -1 OR st >= len(word)),
perdoc AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS body FROM fin GROUP BY doc_id),
sq AS (SELECT doc_id, list_concat(list_concat([CAST(${wp.clsId} AS BIGINT)], body), [CAST(${wp.sepId} AS BIGINT)]) AS s2 FROM perdoc)"""
  }

  /** q97: merges-based BPE over the fixture tokenizer.json
    * (graft.model.Bpe for the HF semantics). The recursive CTE fuses
    * one pair per step: the adjacent pair with the LOWEST merge rank,
    * leftmost occurrence on ties (`list_position` returns the first
    * match). A state is terminal when it is one symbol or no adjacent
    * pair is in the merge table; states strictly shrink, so each word
    * reaches exactly one terminal row. No specials. */
  def q97_bpe: String =
    s"""${bpeCtes()}
SELECT doc_id, CAST(generate_subscripts(body, 1) - 1 AS BIGINT) AS pos, unnest(body) AS token_id FROM perdoc"""

  /** The shared BPE encoding chain, ending in `perdoc(doc_id, body)` —
    * body is the piece-id list of the whole doc in word order. */
  private def bpeCtes(): String = {
    val bp = graft.model.Bpe.fixture
    val mg = bp.oracleMergeRows
      .map { case (a, b, r) => s"{'a': '$a', 'b': '$b', 'r': $r}" }
      .mkString("[", ", ", "]")
    val voc = bp.oracleVocabRows
      .map { case (p, id) => s"{'p': '$p', 'id': $id}" }
      .mkString("[", ", ", "]")
    val none = 99999
    def rks(syms: String) =
      s"list_transform(range(1, len($syms)), i -> coalesce(list_aggregate(list_transform($mg, m -> CASE WHEN m.a = ($syms)[i] AND m.b = ($syms)[i + 1] THEN m.r ELSE NULL END), 'min'), $none))"
    s"""WITH RECURSIVE w0 AS (SELECT doc_id, ${toks("text")} AS ws FROM documents),
words AS (SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS wpos, unnest(ws) AS word FROM w0 WHERE len(ws) > 0),
bp AS (
  SELECT doc_id, wpos, string_split(word, '') AS syms FROM words
  UNION ALL
  SELECT doc_id, wpos,
    list_concat(list_concat(list_slice(syms, 1, bi - 1), [syms[bi] || syms[bi + 1]]), list_slice(syms, bi + 2, len(syms))) AS syms
  FROM (
    SELECT doc_id, wpos, syms,
      list_position(rk, list_aggregate(rk, 'min')) AS bi,
      list_aggregate(rk, 'min') AS br
    FROM (SELECT doc_id, wpos, syms, ${rks("syms")} AS rk FROM bp WHERE len(syms) > 1) s) t
  WHERE br < $none),
fin AS (SELECT doc_id, wpos, syms FROM bp
  WHERE len(syms) = 1 OR list_aggregate(${rks("syms")}, 'min') = $none),
pieceids AS (SELECT doc_id, wpos,
  list_transform(syms, sy -> CAST(list_aggregate(list_transform($voc, v -> CASE WHEN v.p = sy THEN v.id ELSE NULL END), 'min') AS BIGINT)) AS ids FROM fin),
perdoc AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS body FROM pieceids GROUP BY doc_id)"""
  }

  /** q98: the reference's TRUE Qwen3 shape end-to-end — its models
    * ship a BPE tokenizer (common.rs:57-157 hands tokenizer.json to
    * the tokenizers runtime; qwen3.rs:1105 encodes with it), so this
    * runs the q95 full learned model over BPE ids instead of
    * WordPiece: every BPE id is in the learned table's id space, the
    * whole forward is learned, sequences cap at [[q95MaxLen]]. */
  def q98_bpe_full_model: String = {
    val dim = graft.backend.EmbTableBank.Dim
    stackedDecoderSql(
      s"""${bpeCtes()},
sel AS (SELECT doc_id, list_slice(body, 1, $q95MaxLen) AS tids, least(len(body), $q95MaxLen) AS n FROM perdoc)""",
      (t, d) => s"CAST(floor((((($t) * $dim + ($d) + 1) * $C3 + $B3) % 4001 - 2000)::DOUBLE / 1024.0 * 1000000.0 + 0.5) AS BIGINT)")
  }

  /** q102: Unigram (SentencePiece) Viterbi segmentation over the
    * fixture tokenizer.json (graft.model.Unigram for the HF
    * semantics — the multilingual-e5/XLM-R family). The recursive CTE
    * advances one character position per step carrying the exact
    * int64 DP list; the best predecessor packs as
    * `(sc + Bias)·2^25 + n·2^18 + id` (score, then longer piece, then
    * id — decoded with truncating `//`/`%`, safe because the 2^36
    * bias keeps keys positive for any in-bounds word). `<s> … </s>`
    * wrap. */
  def q102_unigram: String =
    s"""${unigramCtes()}
SELECT doc_id, CAST(generate_subscripts(s2, 1) - 1 AS BIGINT) AS pos, unnest(s2) AS token_id FROM sq2"""

  /** q103: the REAL multilingual-e5 pipeline shape — `"query: "`
    * prefix (the reference README's E5 convention), Unigram Viterbi
    * ids, then the mean-pooled dense tail (specials in the pool like
    * q79) and l2. The prefix guarantees every doc has ≥ 1 word, so
    * both sides cover all docs. */
  def q103_e5_embed(dim: Int = Dim): String =
    s"""${unigramCtes("'query: ' || text")},
m AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(s2, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(s2)::DOUBLE / $M.0) * 2.0 - 1.0) AS mn FROM sq2),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""

  /** The shared Unigram encoding chain, ending in `sq2(doc_id, s2)` —
    * s2 is the `<s>`-wrapped piece-id list of `textExpr`. */
  private def unigramCtes(textExpr: String = "text"): String = {
    val um = graft.model.Unigram.fixture
    val voc = um.oracleRows
      .map { case (p, n, sc, id) => s"{'p': '$p', 'n': $n, 'sc': CAST($sc AS BIGINT), 'id': $id}" }
      .mkString("[", ", ", "]")
    val bias = graft.model.UnigramModel.Bias
    s"""WITH RECURSIVE w0 AS (SELECT doc_id, ${toks(textExpr)} AS ws FROM documents),
words AS (SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS wpos, unnest(ws) AS word FROM w0 WHERE len(ws) > 0),
vt AS (
  SELECT doc_id, wpos, word, 0 AS i,
    [{'sc': CAST(0 AS BIGINT), 'ids': CAST([] AS BIGINT[])}] AS dp
  FROM words
  UNION ALL
  SELECT doc_id, wpos, word, i + 1,
    list_append(dp, {
      'sc': bk // 33554432 - $bias,
      'ids': list_append(dp[i + 2 - ((bk % 33554432) // 262144)].ids, CAST(bk % 262144 AS BIGINT))}) AS dp
  FROM (
    SELECT doc_id, wpos, word, i, dp,
      list_aggregate(list_transform($voc, p ->
        CASE WHEN p.n <= i + 1 AND substr(word, i + 2 - p.n, p.n) = p.p
             THEN (dp[i + 2 - p.n].sc + p.sc + $bias) * 33554432 + p.n * 262144 + p.id
             ELSE NULL END), 'max') AS bk
    FROM vt WHERE i < len(word)) s),
fin AS (SELECT doc_id, wpos, dp[len(word) + 1].ids AS ids FROM vt WHERE i = len(word)),
perdoc AS (SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS body FROM fin GROUP BY doc_id),
sq2 AS (SELECT doc_id, list_concat(list_concat([CAST(${um.bosId} AS BIGINT)], body), [CAST(${um.eosId} AS BIGINT)]) AS s2 FROM perdoc)"""
  }

  /** Unigram-training CTE chain ([[graft.operators.UnigramTrain.train]]
    * unrolled): seed substring counts → quantized-log seed scores → EM
    * round 1 (recursive Viterbi E-step over the word table, exactly the
    * q102 DP with the vocab coming from a CTE instead of a literal) →
    * M-step (zero-count drop, alphabet floor, re-score) → prune by
    * quantized loss (a second, score-only recursive DP segments each
    * multi-char piece WITHOUT itself) → EM round 2 → final vocab
    * `ugk3(p, n, u, sc, id)`. All arithmetic is the trainer's: exact
    * int64 DP keys, counts as BIGINTs, scores floor(ln(u/U)·1024+0.5)
    * — the 2^-10 grid both engines land on identically (idf-grid
    * argument, OracleSql header). */
  def unigramTrainCtes(vocabSize: Int, seedSize: Int, maxPieceLen: Int): String = {
    val bias = graft.model.UnigramModel.Bias
    // one full-backtrack Viterbi E-step: words × current vocab list →
    // per-piece expected counts (the q102 recursion, parameterized)
    def estep(tag: String, vl: String): String =
      s"""ugvt$tag AS (
  SELECT word, cnt, 0 AS i, [{'sc': CAST(0 AS BIGINT), 'ids': CAST([] AS BIGINT[])}] AS dp
  FROM ugwc
  UNION ALL
  SELECT word, cnt, i + 1,
    list_append(dp, {
      'sc': bk // 33554432 - $bias,
      'ids': list_append(dp[i + 2 - ((bk % 33554432) // 262144)].ids, CAST(bk % 262144 AS BIGINT))}) AS dp
  FROM (
    SELECT word, cnt, i, dp,
      list_aggregate(list_transform($vl.v, p ->
        CASE WHEN p.n <= i + 1 AND substr(word, i + 2 - p.n, p.n) = p.p
             THEN (dp[i + 2 - p.n].sc + p.sc + $bias) * 33554432 + p.n * 262144 + p.id
             ELSE NULL END), 'max') AS bk
    FROM ugvt$tag, $vl WHERE i < len(word)) s),
ugu$tag AS MATERIALIZED (SELECT id, sum(cnt)::BIGINT AS u FROM (
  SELECT cnt, unnest(dp[len(word) + 1].ids) AS id FROM ugvt$tag WHERE i = len(word)) GROUP BY id)"""
    def qlog(u: String, totalFrom: String): String =
      s"CAST(floor(ln($u::DOUBLE / (SELECT sum(u) FROM $totalFrom)::DOUBLE) * 1024 + 0.5) AS BIGINT)"
    def vlist(from: String): String =
      s"(SELECT list({'p': p, 'n': n, 'sc': sc, 'id': id} ORDER BY id) AS v FROM $from)"
    s"""ugwc AS MATERIALIZED (SELECT word, count(*)::BIGINT AS cnt FROM (SELECT unnest(${toks("text")}) AS word FROM documents) GROUP BY word),
ugsc AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS c FROM (
  SELECT cnt, unnest(flatten(list_transform(range(0, len(word)), s ->
    list_transform(range(1, 1 + least($maxPieceLen, len(word) - s)), l -> substr(word, s + 1, l))))) AS piece
  FROM ugwc) GROUP BY piece),
ugseed AS MATERIALIZED (
  SELECT piece, c FROM ugsc WHERE len(piece) = 1
  UNION ALL
  SELECT piece, c FROM (SELECT piece, c FROM ugsc WHERE len(piece) > 1 ORDER BY c DESC, piece ASC LIMIT $seedSize)),
ugv0 AS MATERIALIZED (SELECT piece AS p, len(piece) AS n,
  CAST(floor(ln(c::DOUBLE / (SELECT sum(c) FROM ugseed)::DOUBLE) * 1024 + 0.5) AS BIGINT) AS sc,
  CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS id FROM ugseed),
ugvl0 AS ${vlist("ugv0")},
${estep("0", "ugvl0")},
ugk1a AS MATERIALIZED (
  SELECT v.p, v.n, CASE WHEN v.n = 1 THEN greatest(COALESCE(u.u, 0), 1) ELSE COALESCE(u.u, 0) END AS u
  FROM ugv0 v LEFT JOIN ugu0 u ON v.id = u.id
  WHERE v.n = 1 OR COALESCE(u.u, 0) > 0),
ugk1 AS MATERIALIZED (SELECT p, n, u, ${qlog("u", "ugk1a")} AS sc,
  CAST(row_number() OVER (ORDER BY p) - 1 AS BIGINT) AS id FROM ugk1a),
ugvl1 AS ${vlist("ugk1")},
ugalt AS (
  SELECT p AS word, 0 AS i, [CAST(0 AS BIGINT)] AS dp FROM ugk1 WHERE n > 1
  UNION ALL
  SELECT word, i + 1, list_append(dp, bs) FROM (
    SELECT word, i, dp, list_aggregate(list_transform(ugvl1.v, p ->
      CASE WHEN p.n <= i + 1 AND p.p <> word AND substr(word, i + 2 - p.n, p.n) = p.p
           THEN dp[i + 2 - p.n] + p.sc ELSE NULL END), 'max') AS bs
    FROM ugalt, ugvl1 WHERE i < len(word)) s),
ugaltf AS MATERIALIZED (SELECT word AS p, dp[len(word) + 1] AS alt FROM ugalt WHERE i = len(word)),
ugloss AS MATERIALIZED (SELECT k.p, k.n, k.u, k.u * (k.sc - a.alt) AS loss
  FROM ugk1 k JOIN ugaltf a ON a.p = k.p),
ugk2a AS MATERIALIZED (
  SELECT p, n, u FROM ugk1 WHERE n = 1
  UNION ALL
  SELECT p, n, u FROM (
    SELECT l.p, l.n, l.u, row_number() OVER (ORDER BY l.loss DESC, l.p ASC) AS rk FROM ugloss l)
  WHERE rk <= $vocabSize - (SELECT count(*) FROM ugk1 WHERE n = 1)),
ugk2 AS MATERIALIZED (SELECT p, n, u, ${qlog("u", "ugk2a")} AS sc,
  CAST(row_number() OVER (ORDER BY p) - 1 AS BIGINT) AS id FROM ugk2a),
ugvl2 AS ${vlist("ugk2")},
${estep("2", "ugvl2")},
ugk3a AS MATERIALIZED (
  SELECT v.p, v.n, CASE WHEN v.n = 1 THEN greatest(COALESCE(u.u, 0), 1) ELSE COALESCE(u.u, 0) END AS u
  FROM ugk2 v LEFT JOIN ugu2 u ON v.id = u.id
  WHERE v.n = 1 OR COALESCE(u.u, 0) > 0),
ugk3 AS MATERIALIZED (SELECT p, n, u, ${qlog("u", "ugk3a")} AS sc,
  CAST(row_number() OVER (ORDER BY p) - 1 AS BIGINT) AS id FROM ugk3a)"""
  }

  /** q163: the trained Unigram vocabulary itself — (piece, score_q)
    * after seed → EM → loss-prune → EM. */
  def q163_unigram_train(vocabSize: Int, seedSize: Int, maxPieceLen: Int): String =
    s"""WITH RECURSIVE ${unigramTrainCtes(vocabSize, seedSize, maxPieceLen)}
SELECT p AS piece, sc AS score_q FROM ugk3"""

  /** q164: train → export tokenizer.json → load through the production
    * Unigram loader → tokenize the corpus with the serving expression —
    * corpus token counts under the self-trained vocabulary. The oracle
    * re-derives the vocab (the CTE chain), Viterbi-segments the word
    * table with it, scales by word counts, and adds the `<s>`/`</s>`
    * template rows (one per document — every gate doc has ≥ 1 word). */
  def q164_selftrained_unigram(vocabSize: Int, seedSize: Int, maxPieceLen: Int): String = {
    val bias = graft.model.UnigramModel.Bias
    s"""WITH RECURSIVE ${unigramTrainCtes(vocabSize, seedSize, maxPieceLen)},
ugvlf AS (SELECT list({'p': p, 'n': n, 'sc': sc, 'id': id} ORDER BY id) AS v FROM ugk3),
ugvtf AS (
  SELECT word, cnt, 0 AS i, [{'sc': CAST(0 AS BIGINT), 'ids': CAST([] AS BIGINT[])}] AS dp
  FROM ugwc
  UNION ALL
  SELECT word, cnt, i + 1,
    list_append(dp, {
      'sc': bk // 33554432 - $bias,
      'ids': list_append(dp[i + 2 - ((bk % 33554432) // 262144)].ids, CAST(bk % 262144 AS BIGINT))}) AS dp
  FROM (
    SELECT word, cnt, i, dp,
      list_aggregate(list_transform(ugvlf.v, p ->
        CASE WHEN p.n <= i + 1 AND substr(word, i + 2 - p.n, p.n) = p.p
             THEN (dp[i + 2 - p.n].sc + p.sc + $bias) * 33554432 + p.n * 262144 + p.id
             ELSE NULL END), 'max') AS bk
    FROM ugvtf, ugvlf WHERE i < len(word)) s),
uguf AS (SELECT id, sum(cnt)::BIGINT AS total FROM (
  SELECT cnt, unnest(dp[len(word) + 1].ids) AS id FROM ugvtf WHERE i = len(word)) GROUP BY id),
body AS (SELECT k.p AS token, u.total FROM uguf u JOIN ugk3 k ON k.id = u.id)
SELECT token, total FROM body
UNION ALL
SELECT '<s>' AS token, (SELECT count(*) FROM documents)::BIGINT AS total
UNION ALL
SELECT '</s>' AS token, (SELECT count(*) FROM documents)::BIGINT AS total"""
  }

  /** q79: the tokenizer-swap composition — the flagship dense chain
    * (hash projection → exact integer mean → l2 normalize, the q01
    * tail) running over WORDPIECE ids instead of hashing ids, specials
    * included in the pool like a mean-pooled BERT. */
  def q79_wordpiece_dense(dim: Int = Dim): String =
    s"""${wordpieceCtes()},
m AS (SELECT doc_id, list_transform(range(0, $dim), d -> (list_reduce(list_transform(s2, t -> (t*$A + d*$B + $C) % $M), (a,b) -> a+b)::DOUBLE / len(s2)::DOUBLE / $M.0) * 2.0 - 1.0) AS mn FROM sq),
nr AS (SELECT doc_id, mn, sqrt(list_reduce(list_transform(mn, y -> y*y), (a,b) -> a+b)) AS nv FROM m),
emb AS (SELECT doc_id, list_transform(mn, x -> x / (nv + 1e-12)) AS emb FROM nr)
SELECT doc_id, CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS dim, unnest(emb) AS val FROM emb"""

  /** q80: P2 over the real vocab — BERT-style pair encoding
    * `[CLS] query [SEP] doc [SEP]` with segment ids and the
    * "only_second" truncation dialect (reranking/impl.rs:123-148):
    * only the doc side shrinks to fit, the closing [SEP] appends
    * after. The constant query's pieces are encoded driver-side by the
    * same model and inlined. */
  def q80_wordpiece_pair(queryText: String, maxLen: Int): String = {
    val wp = graft.model.WordPiece.fixture
    val qWords = queryText.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .split("\\s+").filter(_.nonEmpty).toSeq
    val qIds = qWords.flatMap(wp.tokenizeWord)
    val budgetB = maxLen - qIds.length - 3
    require(budgetB > 0, s"maxLen $maxLen leaves no room for the second sequence")
    val head = (wp.clsId +: qIds :+ wp.sepId)
      .map(i => s"CAST($i AS BIGINT)").mkString("[", ", ", "]")
    val zeros = Seq.fill(qIds.length + 2)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")
    s"""${wordpieceCtes()},
pe AS (SELECT doc_id,
  list_concat(list_concat($head, list_slice(list_slice(s2, 2, len(s2) - 1), 1, $budgetB)), [CAST(${wp.sepId} AS BIGINT)]) AS ids,
  list_concat(list_concat($zeros, list_transform(list_slice(list_slice(s2, 2, len(s2) - 1), 1, $budgetB), x -> CAST(1 AS BIGINT))), [CAST(1 AS BIGINT)]) AS tts
  FROM sq)
SELECT doc_id, CAST(generate_subscripts(ids, 1) - 1 AS BIGINT) AS pos, unnest(ids) AS token_id, unnest(tts) AS token_type FROM pe"""
  }

  /** q73: 3-D MRoPE position ids (qwen3.rs:366-467) over the q72 fused
    * layout — prefix sequential, image span (start+t, start+h, start+w)
    * from the t/h/w grid walk, tail resumes from
    * max(prefix max, image max) + 1. Grid 1×2×2, span length 4. */
  def q73_mrope_ids(maxLen: Int = 24): String = {
    val img = M
    // st_idx = max(max(start−1, 0), start + maxDim − 1) + 1; maxDim = 2
    val st = "greatest(greatest(k - 1, 0), k + 1) + 1"
    def dim(imageVal: String): String =
      s"CASE WHEN pos < k THEN pos WHEN pos < k + 4 THEN $imageVal ELSE $st + (pos - (k + 4)) END"
    s"""WITH tok AS (SELECT doc_id, ${tids("text", maxLen)} AS tids FROM documents),
sel AS (SELECT doc_id, tids, len(tids) AS n FROM tok WHERE len(tids) > 0),
aug AS (SELECT doc_id, least(3, n) AS k, list_concat(list_concat(
  list_slice(tids, 1, least(3, n)), [$img, $img, $img, $img]),
  list_slice(tids, least(3, n) + 1, n)) AS a FROM sel),
e AS (SELECT doc_id, k, CAST(generate_subscripts(a, 1) - 1 AS BIGINT) AS pos, unnest(a) AS t FROM aug)
SELECT doc_id, pos,
  ${dim("k + (pos - k) // 4")} AS pid_t,
  ${dim("k + ((pos - k) // 2) % 2")} AS pid_h,
  ${dim("k + (pos - k) % 2")} AS pid_w
FROM e"""
  }

  /** q74: bilinear position-embedding interpolation
    * (qwen3_vl.rs:515-631) over the q69b grids — linspace sample
    * points, four-corner bilinear blend of the deterministic side=8
    * table, merge-permuted output positions. */
  def q74_pos_interp(side: Int = 8): String = {
    val sm = side - 1
    def pcell(idx: String): String =
      s"((($idx) * $A3 + (4096 + dim) * $B3 + $C3) % $M3)::DOUBLE / $M3.0 * 2.0 - 1.0"
    s"""WITH g AS (SELECT doc_id, grid_h, grid_w FROM (${q69b_smart_resize(4, 256L, 1024L)}) q69b WHERE doc_id < 100),
e AS (SELECT doc_id, grid_h, grid_w, unnest(range(0, grid_h * grid_w)) AS p FROM g),
d2 AS (SELECT doc_id, grid_h, grid_w, p, unnest(range(0, 2)) AS dim FROM e),
c AS (SELECT doc_id, grid_h, grid_w, p, dim,
  (p // 4) // (grid_w // 2) * 2 + (p % 4) // 2 AS gh,
  ((p // 4) % (grid_w // 2)) * 2 + (p % 4) % 2 AS gw FROM d2),
v AS (SELECT doc_id, p, dim,
  CASE WHEN grid_h = 1 THEN 0.0 ELSE gh::DOUBLE * ($sm.0 / (grid_h - 1)::DOUBLE) END AS hv,
  CASE WHEN grid_w = 1 THEN 0.0 ELSE gw::DOUBLE * ($sm.0 / (grid_w - 1)::DOUBLE) END AS wv FROM c),
k AS (SELECT doc_id, p, dim, hv, wv,
  CAST(floor(hv) AS BIGINT) AS hf, least(CAST(ceil(hv) AS BIGINT), $sm) AS hc,
  CAST(floor(wv) AS BIGINT) AS wf, least(CAST(ceil(wv) AS BIGINT), $sm) AS wc FROM v)
SELECT doc_id, p AS pos, dim,
  (1.0 - (hv - floor(hv))) * (1.0 - (wv - floor(wv))) * (${pcell(s"hf * $side + wf")})
  + (1.0 - (hv - floor(hv))) * (wv - floor(wv)) * (${pcell(s"hf * $side + wc")})
  + (hv - floor(hv)) * (1.0 - (wv - floor(wv))) * (${pcell(s"hc * $side + wf")})
  + (hv - floor(hv)) * (wv - floor(wv)) * (${pcell(s"hc * $side + wc")}) AS val
FROM k"""
  }

  /** q69b: smart_resize (qwen3.rs:207-244) as relational arithmetic —
    * ties-to-even rounding to factor multiples, β-shrink/grow via the
    * same double sqrt/div trees the Spark Column expression builds. */
  def q69b_smart_resize(factor: Int = 4, minPx: Long = 256L, maxPx: Long = 1024L): String = {
    def rteTimesF(x: String): String =
      s"""greatest((CASE WHEN ($x) - floor($x) < 0.5 THEN floor($x)::BIGINT
 WHEN ($x) - floor($x) > 0.5 THEN floor($x)::BIGINT + 1
 WHEN floor($x)::BIGINT % 2 = 0 THEN floor($x)::BIGINT
 ELSE floor($x)::BIGINT + 1 END) * $factor, $factor)"""
    s"""WITH d AS (SELECT doc_id, doc_id % 97 + 1 AS h, (doc_id * 7) % 103 + 1 AS w FROM documents),
r0 AS (SELECT doc_id, h, w,
  ${rteTimesF(s"h::DOUBLE / $factor.0")} AS hb0,
  ${rteTimesF(s"w::DOUBLE / $factor.0")} AS wb0,
  (h * w)::DOUBLE AS area FROM d),
r AS (SELECT doc_id, h, w,
  CASE WHEN hb0 * wb0 > $maxPx THEN greatest(floor(h::DOUBLE / sqrt(area / $maxPx.0) / $factor.0)::BIGINT * $factor, $factor)
       WHEN hb0 * wb0 < $minPx THEN greatest(ceil(h::DOUBLE * sqrt($minPx.0 / area) / $factor.0)::BIGINT * $factor, $factor)
       ELSE hb0 END AS h_bar,
  CASE WHEN hb0 * wb0 > $maxPx THEN greatest(floor(w::DOUBLE / sqrt(area / $maxPx.0) / $factor.0)::BIGINT * $factor, $factor)
       WHEN hb0 * wb0 < $minPx THEN greatest(ceil(w::DOUBLE * sqrt($minPx.0 / area) / $factor.0)::BIGINT * $factor, $factor)
       ELSE wb0 END AS w_bar FROM r0)
SELECT doc_id, h, w, h_bar, w_bar, h_bar // 2 AS grid_h, w_bar // 2 AS grid_w,
  ((h_bar // 2) * (w_bar // 2)) // 4 AS n_llm_tokens FROM r"""
  }

  val q25_segment_sales: String =
    s"""SELECT c.c_mktsegment, n.n_name, count(*) AS n_orders,
sum(CAST(o.o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY c.c_mktsegment, n.n_name"""

  val q26_events_stats: String =
    s"""SELECT user_id, event_type, count(*) AS n_events,
min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY user_id, event_type"""

  /** The full oracle map (queries without a SQL-expressible oracle are
    * intentionally absent → driver falls back to rows-only checks). */
  def all: Map[String, String] = Map(
    "q01_dense_embed" -> q01_dense_embed,
    "q02_cls_embed" -> q02_cls_embed,
    "q03_last_embed" -> q03_last_embed,
    "q04_sparse_embed" -> q04_sparse_embed,
    "q05_sparse_struct" -> q05_sparse_struct,
    "q06_colbert" -> q06_colbert(16),
    "q07_topk" -> q07_topk,
    "q08_knn_join" -> q08_knn_join,
    "q09_rerank" -> q09_rerank("spark hash join query plan"),
    "q10_pair_scores" -> q10_pair_scores,
    "q11_dedup_exact" -> q11_dedup_exact,
    "q12_minhash_sigs" -> q12_minhash_sigs(16),
    "q12b_minhash_sigs_narrow" -> q12_minhash_sigs(16),
    "q13_minhash_neardups" -> q13_minhash_neardups(0.35, 16, 4),
    "q124_dedup_incremental" -> q124_dedup_incremental(0.35, 16, 4),
    "q135_stream_dedup_audit" -> q135_stream_dedup_audit(0.35, 16, 4),
    "q135b_stream_dedup_corpus" -> q135b_stream_dedup_corpus(0.35, 16, 4),
    "q14_simhash" -> q14_simhash(32),
    "q15_simhash_neardups" -> q15_simhash_neardups(32, 3),
    "q15b_simhash60" -> q15_simhash_neardups(60, 3),
    "q15c_simhash_capped" -> q15_simhash_neardups(60, 3, maxBucketSize = 2000),
    "q16_ngram_jaccard" -> q16_ngram_jaccard(150L, 0.5),
    "q17_ann_lsh" -> q17_ann_lsh(Dim, 8, 5),
    "q17b_ann_multiprobe" -> q17b_ann_multiprobe(Dim, 16, 5),
    "q17c_ivf_flat" -> q17c_ivf_flat(16, 4, 5),
    "q49_pq_ann" -> q49_pq_ann(Dim, 8, 16, 5),
    "q49b_ivf_pq" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    // the persisted-index forms are result-identical to the in-plan
    // q49b by construction (same quantizers, ADC order, tie-breaks) —
    // same oracle, independently hash-gated
    "q123_ivfpq_indexed" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    // upsert restores the true corpus under unchanged quantizers, so the
    // post-upsert search answers to the fresh-full-build oracle
    "q151_ivfpq_upsert" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    "q157_stream_upsert" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    "q123b_ivfpq_append" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    "q137_stream_index_ingest" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    "q138_semantic_ingest_dups" -> q138_semantic_ingest_dups(Dim, 16, 4, 8, 16, 5, 250L, 0.2),
    "q139_stream_semantic_ingest" -> q139_stream_semantic_ingest(Dim, 16, 4, 8, 16, 5, 250L, 0.2),
    "q139b_stream_semantic_corpus" -> q139b_stream_semantic_corpus(Dim, 16, 4, 8, 16, 5, 250L, 0.2),
    "q126_ivfpq_deleted" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5,
      candFilter = "WHERE a.vec_id % 7 != 0"),
    "q127_pack_offset" -> q127_pack_offset(256L, 8),
    "q128_pack_greedy" -> q128_pack_greedy(256L, 8),
    "q129_index_drift" -> q129_index_drift(16, 1000000L),
    "q136_drift_retrain" -> q136_drift_retrain(Dim, 16, 8, 8, 8, 1, 4, 5),
    "q140_stream_drift_windows" -> q140_stream_drift_windows(16, 4),
    "q130_ivfpq_residual" -> q130_ivfpq_residual(Dim, 16, 4, 8, 16, 5),
    // persisted residual lifecycle: search (q165) and append (q165b)
    // are bit-identical to the one-shot residual form from the same
    // quantizers, so both share q130's oracle; the rescored serving
    // form (q166) adds the exact-L2 re-rank stage; the default-probe
    // gate (q167) resolves nProbeFor(16) = 16 → the full-probe oracle
    "q165_ivfpq_index_residual" -> q130_ivfpq_residual(Dim, 16, 4, 8, 16, 5),
    "q165b_ivfpq_index_residual_append" -> q130_ivfpq_residual(Dim, 16, 4, 8, 16, 5),
    "q166_ivfpq_residual_rescored" -> q166_ivfpq_residual_rescored(Dim, 16, 4, 8, 16, 5, 4),
    "q167_ivfpq_default_probe" -> q49b_ivf_pq(Dim, 16, 16, 8, 16, 5),
    "q131_pack_stats" -> q131_pack_stats(256L, 8),
    "q132_ivfpq_merged" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5),
    "q133_ivfpq_filtered" -> q49b_ivf_pq(Dim, 16, 4, 8, 16, 5,
      candFilter = "WHERE a.vec_id % 3 = 0"),
    "q134_serving_capstone" -> q125_ivfpq_rescored(Dim, 16, 4, 8, 16, 5, 4,
      candFilter = "WHERE a.vec_id % 7 != 0 AND a.vec_id % 3 = 0"),
    "q125_ivfpq_rescored" -> q125_ivfpq_rescored(Dim, 16, 4, 8, 16, 5, 4),
    "q161_clusters_indexed" -> q161_clusters_indexed(Dim, 16, 4, 8, 16, 4, 8, 18),
    // the auto-sized form: nCellsFor(500) = 2 at the gate corpus, fixed
    // nProbe clamps to 2 — hardcoded here so any other sizing mismatches
    "q161b_clusters_indexed_auto" -> q161_clusters_indexed(Dim, 2, 2, 8, 16, 4, 8, 28),
    "q50_kmeans_train" -> q50_kmeans_train(8, 2),
    "q50b_ivf_trained" -> q50b_ivf_trained(8, 2, 2, 5),
    "q51_pq_trained" -> q51_pq_trained(Dim, 8, 8, 1, 5),
    "q52_chunk_embed" -> q52_chunk_embed(16, 4, 16),
    "q53_sq_codes" -> q53_sq_codes,
    "q53b_sq_search" -> q53b_sq_search(Dim, 5),
    "q54_binary_sig" -> q54_binary_sig(Dim),
    "q54b_hamming_topk" -> q54b_hamming_topk(Dim, 5),
    "q54c_binary_rescored" -> q54c_binary_rescored(Dim, 32, 5),
    "q55_bm25_weights" -> q55_bm25_weights(graft.operators.FullText.K1, graft.operators.FullText.B),
    "q55b_bm25_topk" -> q55b_bm25_topk(graft.operators.FullText.K1, graft.operators.FullText.B, 5),
    // the persisted-index form derives weights from CURRENT summed stats,
    // so build+append ≡ the fresh whole-corpus search — same oracle,
    // independently hash-gated (the q123b pattern, lexical twin)
    "q141_bm25_indexed" -> q55b_bm25_topk(graft.operators.FullText.K1, graft.operators.FullText.B, 5),
    // upsert restores the true corpus and BM25 stats follow immediately,
    // so the post-upsert search answers the fresh whole-corpus oracle
    "q152_bm25_upsert" -> q55b_bm25_topk(graft.operators.FullText.K1, graft.operators.FullText.B, 5),
    "q158_stream_bm25_upsert" -> q55b_bm25_topk(graft.operators.FullText.K1, graft.operators.FullText.B, 5),
    // removal re-derives df/n_docs/avgdl over the SURVIVING corpus (not
    // a mask), so the oracle is the fresh search over the kept docs
    "q141b_bm25_deleted" -> q55b_bm25_topk(graft.operators.FullText.K1, graft.operators.FullText.B, 5,
      corpusWhere = "WHERE doc_id % 7 != 0"),
    "q143_stream_bm25_ingest" -> q55b_bm25_topk(graft.operators.FullText.K1, graft.operators.FullText.B, 5),
    "q142_hybrid_indexed" -> q142_hybrid_indexed(Dim, 16, 4, 8, 16,
      graft.operators.FullText.K1, graft.operators.FullText.B,
      20, graft.operators.FullText.RrfK, 10),
    "q56_hybrid_rrf" -> q56_hybrid_rrf(Dim, graft.operators.FullText.K1, graft.operators.FullText.B, 20, graft.operators.FullText.RrfK, 10),
    "q57_stratified_sample" -> q57_stratified_sample(Seq("en" -> 0.5, "zh" -> 0.1), 0.25),
    "q57b_cap_per_source" -> q57b_cap_per_source(10),
    "q58_mmr_rerank" -> q58_mmr_rerank(20, 5, 0.5),
    "q59_matryoshka" -> q59_matryoshka(16),
    "q59b_matryoshka_search" -> q59b_matryoshka_search(16, 32, 5),
    "q60_label_centroids" -> q60_label_centroids(),
    "q60b_centroid_classify" -> q60b_centroid_classify(),
    "q61_repeated_spans" -> q61_repeated_spans(8),
    "q105_dup_blocks" -> q105_dup_blocks(8),
    "q106_dsir" -> q106_dsir(4096, 2),
    "q107_semantic_clusters" -> q107_semantic_clusters(4, 12),
    "q116_semantic_clusters_ann" -> q116_semantic_clusters_ann(graft.functions.K.Dim, 4, 4, 12),
    "q120_semantic_clusters_annmp" -> q120_semantic_clusters_annmp(graft.functions.K.Dim, 8, 2, 12, 8),
    // auto-sized planes: the sf0.01 gate corpus has 500 embeddings, so
    // nPlanesFor(500) = 1 and the oracle is the q116 chain at nPlanes
    // = 1 — the gate pins the auto-sizing rule itself (a different
    // plane choice hash-mismatches); the 0-plane ≡ brute identity is
    // spec-gated in SimilaritySpec
    "q121_semantic_clusters_auto" -> q116_semantic_clusters_ann(graft.functions.K.Dim, 1, 4, 12),
    "q119_cluster_balanced_ann" -> q119_cluster_balanced_ann(graft.functions.K.Dim, 4, 4, 12, 8),
    // auto-sized planes (nPlanesFor(500) = 1 at the sf0.01 gate corpus):
    // the q119 chain at nPlanes = 1 — like q121, the gate pins the
    // sizing rule for the balanced-sampling composition
    "q122_cluster_balanced_auto" -> q119_cluster_balanced_ann(graft.functions.K.Dim, 1, 4, 12, 8),
    "q108_cluster_balanced" -> q108_cluster_balanced(4, 12, 8),
    "q109_quantile_filter" -> q109_quantile_filter(0.25),
    "q109b_top_fraction" -> q109b_top_fraction(0.25),
    "q110_random_projection" -> q110_random_projection(Dim, 16),
    "q111_curation_pipeline" -> q111_curation_pipeline(0.5, 20, Seq("en" -> 0.5, "zh" -> 0.1), 0.25),
    "q112_rag_pipeline" -> q112_rag_pipeline(16, 4, 16, 20, 5, 0.5),
    "q112b_rag_ivf" -> q112b_rag_ivf(16, 4, 16, 8, 2, 20, 5, 0.5),
    "q113_cms_estimates" -> q113_cms_estimates(3, 16, 900L),
    // the persisted sketch store folds batch partials exactly like the
    // in-plan merges, so build+ingest (batch or streamed) answers the
    // whole-corpus sketch oracles verbatim
    "q153_cms_store" -> q113_cms_estimates(3, 16, 900L),
    "q155_stream_cms_ingest" -> q113_cms_estimates(3, 16, 900L),
    "q154_hll_store" -> q114_hll_distinct(3, 6),
    // merged-halves gates: the merge property says the composed sketch
    // answers EXACTLY like the whole-corpus one, so the oracle is reused
    "q113b_cms_merged" -> q113_cms_estimates(3, 16, 900L),
    "q114_hll_distinct" -> q114_hll_distinct(3, 6),
    "q114b_hll_merged" -> q114_hll_distinct(3, 6),
    // streamed-window gates: finalized tumbling-window sketches folded
    // via cmsMerge / hllMerge must answer exactly like the whole-corpus
    // sketch (counts are linear; per-bucket max is idempotent), so the
    // batch oracles gate the streaming surface end to end
    "q144_stream_cms" -> q113_cms_estimates(3, 16, 900L),
    "q145_stream_hll" -> q114_hll_distinct(3, 6),
    "q146_bpe_pair_counts" -> q146_bpe_pair_counts,
    "q147_bpe_merges" -> q147_bpe_merges(8),
    "q162_bpe_merges_batched" -> q162_bpe_merges_batched(128),
    // the distributed-rounds leg trains the same list (R1–R3 prefix
    // proof), so it shares q162's sequential chained-CTE oracle
    "q162b_bpe_merges_distributed" -> q162_bpe_merges_batched(128),
    "q148_bpe_tokenize" -> q148_bpe_tokenize(8),
    // train → export → load → native BpeIds: the exported artifact's
    // rank-priority encoding answers the trainer's own segmentation SQL
    "q160_selftrained_bpe" -> q148_bpe_tokenize(8),
    "q163_unigram_train" -> q163_unigram_train(48, 64, 8),
    "q164_selftrained_unigram" -> q164_selftrained_unigram(48, 64, 8),
    "q149_wordpiece_merges" -> q149_wordpiece_merges(8),
    "q150_wordpiece_tokenize" -> q150_wordpiece_tokenize(8),
    "q115_bloom_decontam" -> q115_bloom_decontam(3, 2, 1 << 14),
    "q62_source_keywords" -> q62_source_keywords(5),
    "q67_splice_spans" -> q67_splice_spans(8),
    "q156_splice_keep_first" -> q156_splice_keep_first(8, 1L << 20),
    "q63_semdedup" -> q63_semdedup(16, 0.4),
    "q64_bigram_lm" -> q64_bigram_lm(),
    "q159_quality_ols" -> q159_quality_ols(1000000L),
    "q159b_ols_outliers" -> q159b_ols_outliers(1000000L, 20),
    "q65_hard_negatives" -> q65_hard_negatives(4, 20, 0.95),
    "q66_mixture_weights" -> q66_mixture_weights,
    "q33_embedding_neardups" -> q33_embedding_neardups(Dim, 16, 0.2),
    "q34_dedup_corpus" -> q34_dedup_corpus(0.35, 16, 4),
    "q35_sql_simhash" -> q14_simhash(60),
    "q36_audio_embed" -> q36_audio_embed(16, 16),
    "q37_term_stats" -> q37_term_stats,
    // identity-seeded oracle needs exactly one extra round over the
    // min(own, neighbors)-seeded impl: impl@k ≡ oracle@(k+1)
    "q38_dup_clusters" -> q38_dup_clusters(0.35, 16, 4,
      graft.operators.Dedup.DefaultClusterIterations + 1),
    "q39_colbert_maxsim" -> q39_colbert_maxsim(16),
    "q40_tfidf_sparse" -> q40_tfidf_sparse,
    "q41_contamination" -> q41_contamination(3, 5L),
    "q42_clean_text" -> q42_clean_text,
    "q43_split_buckets" -> q43_split_buckets(10),
    "q44_tokenizer_config" -> denseSelect("tids0", Dim, maxLen = 7),
    "q45_repetition_stats" -> q45_repetition_stats(3),
    "q46_pii_redact" -> q46_pii_redact,
    "q47_pack_sequences" -> q47_pack_sequences(64, 8),
    "q48_video_embed" -> q48_video_embed(32, 2, 16),
    // the AVI container round-trip is byte-lossless, so the demux route
    // answers to the raw-frames oracle verbatim
    "q48b_avi_embed" -> q48_video_embed(32, 2, 16),
    "q48c_video_files" -> q48_video_embed(32, 2, 16, " WHERE doc_id < 64"),
    "q18_lang_id" -> q18_lang_id,
    "q19_quality" -> q19_quality,
    "q20_token_count" -> q20_token_count,
    "q21_fingerprint" -> q21_fingerprint(3, 4),
    "q22_backend_embed" -> q01_dense_embed,
    "q23_image_embed" -> q23_image_embed(16),
    "q23b_image_compose" -> q23b_image_compose(16),
    "q23c_image_files" -> q23b_image_compose(16, " WHERE doc_id < 64"),
    "q23d_image_convnext" -> q23d_image_convnext(16),
    "q27_bgem3_dense" -> q01_dense_embed,
    "q28_bgem3_sparse" -> q28_bgem3_sparse,
    "q29_bgem3_colbert" -> q06_colbert(16),
    "q30_registry_embed" -> q02_cls_embed,
    "q30b_registry_384" -> denseSelect("tids0", 384),
    "q31_rerank_multi" -> q31_rerank_multi,
    "q117_rerank_topk" -> q117_rerank_topk(10),
    "q31b_rerank_backend" -> q31b_rerank_backend,
    "q36b_wav_embed" -> q36_audio_embed(16, 16),
    "q32_prefixed_embed" -> q32_prefixed_embed,
    "q68_transformer_embed" -> q68_transformer_embed(8),
    "q70_moe_embed" -> q70_moe_embed(8, 8, 128),
    "q69_vl_patches" -> q69_vl_patches,
    "q69b_smart_resize" -> q69b_smart_resize(4, 256L, 1024L),
    "q71_vl_window_merge" -> q71_vl_window_merge,
    "q72_mm_fusion" -> q72_mm_fusion(24, 4),
    "q73_mrope_ids" -> q73_mrope_ids(24),
    "q74_pos_interp" -> q74_pos_interp(8),
    "q75_mm_deepstack" -> q75_mm_deepstack(24, 4),
    "q76_weighted_sparse" -> q76_weighted_sparse,
    "q77_wordpiece" -> q77_wordpiece,
    "q78_vl_embed" -> q78_vl_embed(8, 24, 4),
    "q79_wordpiece_dense" -> q79_wordpiece_dense(),
    "q80_wordpiece_pair" -> q80_wordpiece_pair("spark hash join query plan", 16),
    "q81_instruct_embed" -> q81_instruct_embed(graft.operators.Templating.DefaultTask),
    "q82_dense_proj" -> q82_dense_proj(
      graft.backend.ProjectionBank.DimIn, graft.backend.ProjectionBank.DimOut),
    "q83_moe_weighted" -> q83_moe_weighted(),
    "q84_table_embed" -> q84_table_embed(),
    "q85_vl_learned_merger" -> q85_vl_learned_merger,
    "q86_gqa_attention" -> q86_gqa_attention,
    "q87_gated_mlp" -> q87_gated_mlp,
    "q88_decoder_layer" -> q88_decoder_layer,
    "q89_qk_norm" -> q89_qk_norm,
    "q90_stacked_decoder" -> q90_stacked_decoder,
    "q91_vl_learned" -> q91_vl_learned(),
    "q101_vl_full_learned" -> q91_vl_learned(learnedMergers = true),
    "q92_moe_router" -> q92_moe_router(),
    "q93_moe_megablocks" -> q93_moe_megablocks(),
    "q94_attn_bias" -> q94_attn_bias,
    "q95_full_model" -> q95_full_model,
    "q96_learned_rerank" -> q96_learned_rerank(q96Query, q96MaxLen),
    "q118_learned_retrieval" -> q118_learned_retrieval(8, 2, 10),
    "q97_bpe" -> q97_bpe,
    "q102_unigram" -> q102_unigram,
    "q103_e5_embed" -> q103_e5_embed(),
    "q104_nomic_model" -> q104_nomic_model,
    "q98_bpe_full_model" -> q98_bpe_full_model,
    "q99_learned_colbert" -> q99_learned_colbert,
    "q100_tied_sparse" -> q100_tied_sparse,
    "q24_lineitem_agg" -> q24_lineitem_agg,
    "q25_segment_sales" -> q25_segment_sales,
    "q26_events_stats" -> q26_events_stats
  )
}
