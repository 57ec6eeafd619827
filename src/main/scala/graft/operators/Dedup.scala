package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale text pipelines.
  *
  * Everything here is built from codegen'd built-ins (no UDFs) and is
  * shuffle-shaped for scale: MinHash-LSH turns the O(n^2) pair problem
  * into a groupBy/join on band keys, so 100 TB of documents shuffles
  * only (doc_id, band_key) pairs, never text.
  */
object Dedup {

  /** Word n-gram shingles of `text` as an array column (distinct).
    *
    * Native codegen kernel (graft.functions.ShingleKernels.shingles) —
    * one byte scan, byte-identical to the composed
    * split/transform/slice/array_join/array_distinct form it replaced
    * (which the DuckDB oracle keeps, and ShingleKernelSpec
    * property-checks): the r11 sf10 stage profile put 63% of
    * l_dedup_minhash's wall in the composed form's regex split +
    * interpreted transform HOF + per-gram allocations.
    */
  def wordShingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n))

  /** The pre-kernel composed form of [[wordShingles]], kept as the
    * cross-checked reference (ShingleKernelSpec asserts kernel ==
    * composed on adversarial and random inputs).
    */
  def wordShinglesComposed(text: Column, n: Int): Column = {
    val tokens = split(trim(text), "\\s+")
    val cnt = size(tokens) - lit(n - 1)
    val grams = transform(
      sequence(lit(1), greatest(cnt, lit(1))),
      i => array_join(slice(tokens, i, lit(n)), " "))
    array_distinct(when(cnt >= 1, grams).otherwise(array(array_join(tokens, " "))))
  }

  /** MinHash hash family shared by both signature paths: the hex digest
    * of md5(shingle), md5("x|"+shingle), ... is cut into 8-hex-char
    * chunks, giving 4 independent 32-bit uniform hashes per md5.
    * Lexicographic min over hex chunks is a valid uniform min-hash and
    * is bit-reproducible across engines (md5 is standardized), which
    * the DuckDB oracle relies on.
    */
  private def hashI(s: Column, i: Int): Column = {
    val j = i / 4
    val src = if (j == 0) s else concat(lit("x" * j + "|"), s)
    substring(md5(src), 1 + 8 * (i % 4), 8)
  }

  /** One MinHash value: min over a shingle array (array-local form). */
  def minhash(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, s => hashI(s, seed)))

  /** (doc_id, shingles) -> (doc_id, mh0..mh{h-1}), array-local form.
    * Same hash family (and therefore same signatures) as
    * [[minhashSignatureExploded]].
    */
  def minhashSignature(df: DataFrame, idCol: String, shinglesCol: String, numHashes: Int): DataFrame = {
    val cols = (0 until numHashes).map(i => minhash(col(shinglesCol), i).as(s"mh$i"))
    df.select(col(idCol) +: cols: _*)
  }

  /** Same signature via the one-pass native kernel: the scale path.
    * graft_minhash computes ALL numHashes mins per document in a
    * single traversal of the shingle array, so the signature rides
    * the scan with ZERO shuffle and O(numHashes) per-row state.
    * (History: this was an explode + groupBy-min — one exchange of
    * (doc_id, digests) rows and 134 s of md5-chain CPU at sf10; before
    * that, a transform-HOF fold that re-evaluated md5 per hash. The
    * kernel subsumes both: ShingleKernelSpec property-checks it
    * against the explode+agg form, and the hex reconstruction below
    * keeps signatures byte-identical to the string path the DuckDB
    * oracle computes.)
    */
  def minhashSignatureExploded(df: DataFrame, idCol: String, shinglesCol: String, numHashes: Int): DataFrame = {
    // NOTE (r14): production LSH pipelines use [[signatureAndHash56]]
    // instead — it digests once for signature AND verify sets, and it
    // avoids this method's `__sig IS NOT NULL` filter, which predicate
    // pushdown duplicates below the projection (the whole kernel then
    // evaluates twice per row; ScaleInvariantSpec's kernel-in-filter
    // net fails any registered query that reintroduces the shape).
    // Kept as the spec-pinned cross-check reference.
    val withSig = df.select(col(idCol),
      call_function("graft_minhash", col(shinglesCol), lit(numHashes)).as("__sig"))
    // The kernel yields a null signature for empty/all-null shingle
    // arrays; dropping those rows keeps this method's public contract
    // identical to the historical explode + groupBy-min path, which
    // emitted no group for such documents (ADVICE r11).
    withSig.where(col("__sig").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map { i =>
        lower(lpad(hex(element_at(col("__sig"), i + 1)), 8, "0")).as(s"mh$i")
      }: _*)
  }

  /** Fused signature + verify-set projection: every column of `df`
    * except `shinglesCol`, plus mh0..mh{h-1} (the hex signature
    * [[minhashSignatureExploded]] yields) and `hshingles` (the 56-bit
    * set [[hashShingles56]] yields) — computed by ONE kernel
    * (graft_minhash_h56) that digests each shingle (numHashes+3)/4
    * times instead of the +1 the separate kernels paid (their j = 0
    * digests are byte-identical — r13 verdict item 2).
    * [[lshSignatures]] cuts after this projection.
    *
    * INPUT CONTRACT: `shinglesCol` must hold non-empty arrays of
    * non-null shingles — exactly what [[wordShingles]] yields for
    * EVERY input (the empty string shingles to [""], one element).
    * The contract is load-bearing for performance: the first cut
    * filtered `__f.sig IS NOT NULL` here (minhashSignatureExploded's
    * drop-empties contract), and Catalyst's predicate pushdown sank
    * that filter below the projection, re-evaluating the ENTIRE
    * shingle+digest kernel a second time per row (measured 1.45x on
    * l_dedup_minhash at sf10 — there is no `let` across a
    * Filter/Project boundary, and whole-stage codegen only eliminates
    * common subexpressions within one operator). On empty input the
    * mh columns come out null instead of the row dropping; no caller
    * can produce one, and even if one did, [[lshBands]]' band keys are
    * null-propagating, so an all-null signature never forms a shared
    * band bucket (it just never becomes a candidate — the same
    * observable outcome as the historical row drop).
    */
  def signatureAndHash56(df: DataFrame, shinglesCol: String, numHashes: Int): DataFrame = {
    val keep = df.columns.filterNot(_ == shinglesCol).map(col).toSeq
    val f = call_function("graft_minhash_h56", col(shinglesCol), lit(numHashes))
    df.withColumn("__f", f)
      .select(keep ++ (0 until numHashes).map { i =>
        lower(lpad(hex(element_at(col("__f").getField("sig"), i + 1)), 8, "0")).as(s"mh$i")
      } :+ col("__f").getField("h56").as("hshingles"): _*)
  }

  /** The pre-kernel explode + groupBy-min signature path, kept as the
    * cross-checked reference for ShingleKernelSpec. The min is taken
    * over the hex chunk parsed as a LONG: fixed-width hex is
    * order-isomorphic to its numeric value, and a numeric agg buffer
    * keeps the aggregate in HashAggregate.
    */
  def minhashSignatureAgg(df: DataFrame, idCol: String, shinglesCol: String, numHashes: Int): DataFrame = {
    val ex = df.select(col(idCol), explode(col(shinglesCol)).as("__sh"))
    val withDigests = (0 until (numHashes + 3) / 4).foldLeft(ex) { (d, j) =>
      val src = if (j == 0) col("__sh") else concat(lit("x" * j + "|"), col("__sh"))
      d.withColumn(s"__d$j", md5(src))
    }
    val aggs = (0 until numHashes).map { i =>
      min(conv(substring(col(s"__d${i / 4}"), 1 + 8 * (i % 4), 8), 16, 10).cast("long")).as(s"__m$i")
    }
    withDigests.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: (0 until numHashes).map { i =>
        lower(lpad(hex(col(s"__m$i")), 8, "0")).as(s"mh$i")
      }: _*)
  }

  /** LSH banding: rows (doc_id, band, key) where key hashes `rowsPerBand`
    * consecutive minhashes. Equal keys in a band = candidate pair.
    *
    * The key concatenation is NULL-PROPAGATING (`concat`, not
    * `concat_ws`, which SKIPS nulls): a null signature — e.g. a null
    * text reaching [[signatureAndHash56]], whose mh columns then come
    * out all-null — yields a null band key, and the candidate
    * equi-join drops null keys, so such rows can never congregate in a
    * shared md5("") bucket and fan out O(k^2) spurious pairs
    * (ADVICE r14). For non-null signatures the two forms are
    * byte-identical, and null propagation is exactly what the DuckDB
    * oracles' `sig[i] || '|' || sig[j]` computes.
    */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"lshBands: numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val key = md5(concat(
        (0 until rowsPerBand).flatMap(r =>
          Seq(col(s"mh${b * rowsPerBand + r}"), lit("|"))).dropRight(1): _*))
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate near-duplicate pairs (a < b) from LSH bands.
    * Self-join co-partitions on (band, key) — a single shuffle of tiny
    * rows; no O(n^2) comparisons.
    */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val l = bands.select(col("band"), col("key"), col(idCol).as("a"))
    val r = bands.select(col("band"), col("key"), col(idCol).as("b"))
    l.join(r, Seq("band", "key")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact Jaccard over shingle sets for verification of candidates. */
  def jaccard(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb)).cast("double")

  // ---- the MinHash-LSH near-dup chain ------------------------------
  // signature -> bands -> candidates -> verify sets, shared by every
  // LSH-family query; the DuckDB mirror is the oracleSignatures /
  // oracleLshCandidates / oracleHash56Sets fragments in graft.queries.

  /** Hashes per signature and rows per band of the LSH chain. */
  val lshHashes = 8
  val lshRowsPerBand = 2

  /** The chain's signature stage: (doc_id, `carry`..., mh0..mh7,
    * hshingles) over the 3-word shingles of `docs`' `text`, cut by a
    * localCheckpoint.
    *
    * [[signatureAndHash56]] digests each shingle once for both the
    * signature and the 56-bit verify set, so the cut holds only longs
    * and hex chunks: the shingle strings never reach it, and the verify
    * joins attach 8 B per shingle ([[hashShingles56]]). localCheckpoint rather than persist, so the materialization is
    * GC-cleaned with the plan instead of pinned in the CacheManager
    * across later queries.
    */
  def lshSignatures(docs: DataFrame, carry: Column*): DataFrame =
    signatureAndHash56(
        docs.select((col("doc_id") +: carry) :+ wordShingles(col("text"), 3).as("shingles"): _*),
        "shingles", lshHashes)
      .localCheckpoint()

  /** Candidate pairs (a < b) from [[lshSignatures]]' output: the bands
    * are cut because the candidate self-join reads them twice, and
    * without the cut Spark re-runs the signature pipeline for each side
    * (a broadcast side cannot reuse the shuffle stage).
    */
  def lshCandidates(sig: DataFrame): DataFrame =
    candidatePairs(lshBands(sig, "doc_id", lshHashes, lshRowsPerBand).localCheckpoint(), "doc_id")

  /** `pairs`(a, b, ...) with each side's 56-bit shingle set attached as
    * `sa`/`sb` from [[lshSignatures]]' `hshingles`.
    *
    * The joins are pinned to shuffled hash joins: the set side is
    * corpus-proportional, but its size estimate is blind twice over
    * (ArrayType projections are estimated at near-constant width, and
    * localCheckpoint's LogicalRDD carries those origin stats forward),
    * so Catalyst statically broadcast the 130 MB sf1 side, which AQE
    * never demotes (BroadcastBudgetSpec). The hint keeps the join keyed
    * by doc_id with a per-partition build bounded by AQE partition
    * sizing.
    */
  def withVerifySets(pairs: DataFrame, sig: DataFrame): DataFrame =
    pairs
      .join(sig.select(col("doc_id").as("a"), col("hshingles").as("sa")).hint("shuffle_hash"), "a")
      .join(sig.select(col("doc_id").as("b"), col("hshingles").as("sb")).hint("shuffle_hash"), "b")

  /** Near-dup edges (a, b) at Jaccard ≥ 0.5 over [[lshSignatures]]'
    * output, as the integer test 2·|A∩B| ≥ |A∪B| over the 56-bit sets
    * (exact, and identical in the DuckDB oracle: md5 is standardized).
    */
  def lshEdges(sig: DataFrame): DataFrame =
    withVerifySets(lshCandidates(sig), sig)
      .where(size(array_intersect(col("sa"), col("sb"))) * 2
        >= size(array_union(col("sa"), col("sb"))))
      .select("a", "b")

  /** The shingle set as DISTINCT 56-bit md5 longs — the verify-join
    * attach payload (r12 verdict item 1: the sf100sub threshold-curve
    * profile put ~1/3 of wall in an 8.4 GB shingle-STRING-array
    * exchange feeding the sa/sb candidate-verification joins; longs
    * carry the same set structure at 8 bytes per shingle). Set
    * intersections/unions over these longs equal those over the
    * strings up to md5-56 collisions, which land IDENTICALLY on both
    * engines (md5 is standardized), so the DuckDB oracles stay exact
    * by construction — their mirror is the `oracleHash56Sets`
    * fragment in graft.queries.
    * Native one-pass kernel
    * (graft.functions.ShingleKernels.hash56); the composed reference
    * form is [[hashShingles56Composed]], pinned equal in
    * ShingleKernelSpec.
    */
  def hashShingles56(shingles: Column): Column =
    call_function("graft_hash56", shingles)

  /** The pre-kernel composed form of [[hashShingles56]] — the
    * cross-checked reference (built-ins only, same 14-hex-digit
    * big-endian read).
    */
  def hashShingles56Composed(shingles: Column): Column =
    array_distinct(transform(shingles,
      s => conv(substring(md5(s), 1, 14), 16, 10).cast("long")))

  /** Connected components over an undirected edge list (a, b) —
    * assigns every node the minimum node id reachable from it, i.e. the
    * near-duplicate group id once edges are similarity pairs.
    *
    * Hash-to-min label propagation: each round, every node takes the
    * min of its own label and its neighbors' labels. Converges in
    * O(diameter) rounds; each round is one shuffle join + aggregate,
    * with lineage truncated per round (localCheckpoint) so the plan
    * doesn't grow — the standard large-scale CC shape (GraphX does the
    * same dance). The driver-side loop only checks a convergence bit.
    */
  def connectedComponents(edges: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = sym.join(labels, sym("dst") === labels("node"))
        .groupBy(sym("src").as("node")).agg(min("label").as("nmin"))
      val next = labels.as("l")
        .join(neighborMin.as("n"), col("l.node") === col("n.node"), "left_outer")
        .select(col("l.node").as("node"),
          least(col("l.label"), coalesce(col("n.nmin"), col("l.label"))).as("label"))
        .localCheckpoint()
      converged = next.as("x").join(labels.as("y"), col("x.node") === col("y.node"))
        .where(col("x.label") =!= col("y.label")).isEmpty
      labels = next
      iter += 1
    }
    labels.select(col("node"), col("label").as("component"))
  }

  /** 64-bit SimHash from word shingles as a 16-hex-char string.
    *
    * The bit source is the first 16 hex digits of md5(shingle) — md5 is
    * standardized, so the signature is bit-reproducible across engines
    * and the DuckDB oracle can replay it exactly (unlike a xxhash64
    * basis, which is engine-specific). Per bit position b (0..63, MSB
    * first within each hex nibble): vote +1 if the bit is set else -1,
    * summed over shingles; simhash bit = 1 iff the vote is positive.
    * A hex STRING output (not BIGINT) sidesteps signed-64 overflow
    * differences between engines.
    *
    * Evaluation-cost note (found at the sf10 decade, round 9): the
    * vote aggregate must be BOUND ONCE per row. Embedding its tree
    * directly at every read site put 4 copies inside the hex-char
    * lambda, and higher-order functions evaluate their body per
    * element — 16 elements × 4 copies = 64 re-evaluations of the whole
    * shingle fold per document, interpreted (HOFs are CodegenFallback).
    * Invisible at 5k docs, ~30 min at 500k. Spark has no `let`, so the
    * binding trick is a single-element transform: `transform(array(v),
    * votes -> …)[0]` evaluates `v` exactly once and the lambda body
    * reads the O(1) lambda variable.
    */
  def simhashHex(shingles: Column): Column = {
    val hexAlphabet = lit("0123456789abcdef")
    val votesExpr = aggregate(
      transform(shingles, s => substring(md5(s), 1, 16)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, b) => {
        val digitVal = conv(substr(h, shiftright(b, 2) + 1, lit(1)), 16, 10).cast("long")
        val bit = call_function("shiftright", digitVal,
          (lit(3) - b.bitwiseAND(lit(3))).cast("int")).bitwiseAND(lit(1L))
        a + when(bit === 1L, lit(1L)).otherwise(lit(-1L))
      }))
    def hexFrom(votes: Column): Column = array_join(
      transform(sequence(lit(0), lit(15)), p => {
        val digit = (0 until 4).map { r =>
          when(element_at(votes, (p * 4 + r + 1).cast("int")) > 0, lit(8 >> r)).otherwise(lit(0))
        }.reduce(_ + _)
        substr(hexAlphabet, digit + 1, lit(1))
      }), "")
    element_at(transform(array(votesExpr), hexFrom(_)), 1)
  }
}
