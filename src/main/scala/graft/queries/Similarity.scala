package graft.queries

import graft.{Decl, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Similarity search over embeddings (SURVEY.md §2 tier C rows C3-C5,
  * C10) + the ANN scale path. Patterns follow the top-k similarity-search
  * literature referenced in PAPERS.md (block/bucket to bound candidate
  * pairs; exact kernel inside the bucket).
  *
  * Scale design:
  *  - brute-force top-k is scan + TakeOrderedAndProject — linear, no
  *    shuffle of the big side, the right baseline at any scale;
  *  - all-pairs joins are *always* blocked (label block or LSH bucket) —
  *    candidates O(block²), never O(n²) global;
  *  - the query vector travels as a broadcast single-row frame — never a
  *    driver-side collect into a literal.
  */
object Similarity {

  import VectorOps._

  /** Single-row frame holding the query vector (vec_id = [[qid]]) and
    * its squared norm, broadcast to every executor. */
  private def queryVec(s: SparkSession, d: String, qid: Long): DataFrame =
    broadcast(Tables.embeddings(s, d).filter(col("vec_id") === qid)
      .select(col("embedding").as("qv"), norm2(col("embedding")).as("qn2")))

  /** Embeddings with per-row precomputed squared norm (computed once per
    * vector, not once per candidate pair). */
  private def withN2(df: DataFrame): DataFrame =
    df.withColumn("n2", norm2(col("embedding")))

  private val simCol: Column =
    cosineWithNorms(col("embedding"), col("qv"), col("n2"), col("qn2"))

  /** Exact cosine top-`k`, the rule every retrieval path ends in:
    * select vec_id, the `carry` columns and `sim`, keep the best `k` by
    * (sim DESC, vec_id) — one scan + TakeOrderedAndProject. */
  private[queries] def cosineTopK(df: DataFrame, sim: Column, k: Int,
      carry: String*): DataFrame =
    df.select((col("vec_id") +: carry.map(col)) :+ sim.as("sim"): _*)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  /** DuckDB twin of [[cosineTopK]] over candidate pairs `pairs`: the
    * `cand` CTE (dot and squared norms of list expressions `a`, `b`)
    * and the (sim DESC, vec_id) top-`k` over it. Margin-free. */
  private[queries] def sqlCosTopK(a: String, b: String, pairs: String,
      k: Int): String =
    s"""cand AS (SELECT vec_id,
       |    ${sqlDotList(a, b)} AS dot,
       |    ${sqlDotList(a, a)} AS nx,
       |    ${sqlDotList(b, b)} AS ny
       |  FROM $pairs)
       |SELECT vec_id, dot / (sqrt(nx) * sqrt(ny)) AS sim
       |FROM cand ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  /** Two-stage ADC retrieval, shared by every PQ builder: the top
    * `cand` rows by approximate score `approx` (ties → vec_id, one
    * TakeOrdered), then the exact decimal-cosine re-rank to `k`. `enc`
    * carries vec_id, embedding and the codes; `q` is the broadcast
    * query frame with qv, qn2 and the distance tables. `gated` joins
    * enc's IVF `cell` to q's probe `pcell` (IVFADC) instead of crossing
    * the whole corpus with the query. */
  private[queries] def adcTopK(enc: DataFrame, q: DataFrame,
      gated: Boolean, approx: Column, cand: Int, k: Int): DataFrame = {
    val pairs =
      if (gated) enc.join(q, col("cell") === col("pcell"))
      else enc.crossJoin(q)
    cosineTopK(
      pairs.select(col("vec_id"), col("embedding"), col("qv"), col("qn2"),
          approx.as("approx"))
        .orderBy(col("approx").desc, col("vec_id")).limit(cand),
      cosineWithNorms(col("embedding"), col("qv"),
        norm2(col("embedding")), col("qn2")),
      k, "approx")
  }

  /** The ADC table lookups t_sub[c_sub + 1], one per subspace; `idx`
    * adapts the code column's type to element_at's index. */
  private[queries] def adcTerms(idx: Column => Column = identity): Seq[Column] =
    (0 until PqSubspaces)
      .map(sub => element_at(col(s"t$sub"), idx(col(s"c$sub") + 1)))

  /** DuckDB twin of [[adcTopK]]: the candidate CTE `c` over codes `e`
    * and the query side (`p` probe rows when gated, else `q`), whose
    * `qv` select item is `qv`, then the exact re-rank. Margin-free. */
  private[queries] def sqlAdcTopK(qv: String, approx: String,
      gated: Boolean, cand: Int, k: Int): String = {
    val pairs = if (gated) "e JOIN p ON e.cell = p.pcell" else "e, q"
    s"""c AS (SELECT e.vec_id, e.embedding, $qv, $approx AS approx
       |  FROM $pairs
       |  ORDER BY approx DESC, e.vec_id LIMIT $cand)
       |SELECT vec_id, approx, ${sqlCosList("embedding", "qv")} AS sim
       |FROM c ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** DuckDB twin of [[adcTerms]]: the lookup chain off query alias `q`. */
  private[queries] def sqlAdcTerms(q: String): String =
    (0 until PqSubspaces)
      .map(sub => s"($q.t$sub)[e.c$sub + 1]").mkString(" + ")

  /** The distance-table columns t0..t7 a probe CTE carries along. */
  private[queries] def sqlAdcTableCols: String =
    (0 until PqSubspaces).map(sub => s"t$sub").mkString(", ")

  /** Plain-DOUBLE dot of a float-array column with a CONSTANT vector —
    * the [[graft.functions.ConstDot]] kernel: a left-associative IEEE
    * add chain over identical operands, bit-identical to the DuckDB
    * textual chain twin [[sqlDotConst]] without decimal arithmetic
    * (see the kernel scaladoc for the determinism argument and for why
    * a kernel beats the unrolled 500-node expression tree). Used on
    * the cell/bucket-assignment hot path; the decimal kernel remains
    * for dots between two COLUMN vectors, where no shared constant
    * ordering exists (the unnest+GROUP BY twin is unordered). */
  private def dotConst(emb: Column, v: Seq[Float]): Column =
    graft.functions.ConstDot(emb, v)

  /** DuckDB twin of [[dotConst]] — same constants, same add order. */
  private def sqlDotConst(a: String, v: Seq[Float]): String =
    v.zipWithIndex.map { case (c, i) =>
      s"(CAST(($a)[${i + 1}] AS DOUBLE) * " +
        s"CAST(${new java.math.BigDecimal(c.toDouble).toPlainString} " +
        "AS DOUBLE))"
    }.mkString(" + ")

  // ANN index parameters. On this corpus (uniform random vectors — no
  // planted cluster structure, verified: intra-label mean cosine ≈
  // inter-label ≈ 0) recall is probe-fraction plus the angular-
  // correlation bonus; SimilarityTextSpec pins recall@10 ≥ 0.8 vs brute
  // force at sf0.1 for BOTH indexes with these settings. On a real
  // embedding corpus (clustered) the same radius/nProbe touch far less
  // data; raise LshNumPlanes / IvfNumCells with corpus size, radius and
  // nProbe are the recall knobs.
  private[graft] val LshNumPlanes = 4
  /** Multi-probe Hamming radius: candidates come from every bucket whose
    * signature differs from the query's in ≤ this many planes. */
  private[graft] val LshProbeRadius = 2
  private[graft] val IvfNumCells = 8
  /** Number of nearest centroids probed per query (multi-probe IVF). */
  private[graft] val IvfNProbe = 5

  /** Fixed seeded random hyperplanes for sign-LSH, shared by the Spark
    * query and its DuckDB twin (embedded as exact decimal literals). */
  private val lshPlanes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(LshNumPlanes)(Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Fixed seeded Rademacher (±1) projection matrix for the JL
    * random-projection operator `embed_project`: 16 rows × 64 cols,
    * shared by the Spark ConstDot kernels and the DuckDB twin (±1 is
    * exactly representable, so both sides run the identical IEEE
    * chain). */
  private[graft] val RpOutDims = 16
  private val rpPlanes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(2026)
    Seq.fill(RpOutDims)(Seq.fill(64)(if (rnd.nextBoolean()) 1f else -1f))
  }

  /** All XOR masks within `radius` bit flips — the query-side
    * probe-bucket expansion (compile-time constant). */
  private def lshMasksOf(radius: Int): Seq[Long] =
    (0 until (1 << LshNumPlanes))
      .filter(m => Integer.bitCount(m) <= radius).map(_.toLong)

  /** Masks at [[LshProbeRadius]] (11 masks at 4/2) — the top-k path. */
  private val lshProbeMasks: Seq[Long] = lshMasksOf(LshProbeRadius)

  /** The CLASSIFIER's probe width over the FITTED occupancy-scaled
    * index — 2× the retrieval family's FittedNProbe=8: a top-k overlap
    * of ~0.85 is fine for retrieval but not for a 10-vote MAJORITY
    * (every missed true neighbor substitutes an arbitrary label).
    * nProbe is the standard IVF recall knob; candidates stay
    * nProbe × occupancy ≈ 512 rows per probe at ANY corpus size. On a
    * clustered real corpus this width holds the vote (agreement ≥ 0.9
    * pinned); on the uniform fixture agreement is probe-fraction-bound
    * like all ANN recall there — measured and floored, not promised. */
  private[graft] val KnnFittedNProbe = 16

  /** Sign-LSH bucket id: bit i = sign of dot with plane i. */
  private[graft] def lshBucketOf(emb: Column): Column =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      when(dotConst(emb, p) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Fixed seeded IVF centroids, shared by the ANN probe query and the
    * one-Lloyd-iteration fit query. */
  private[graft] val ivfCentroids: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(7L)
    Seq.fill(IvfNumCells)(Seq.fill(64)((rnd.nextGaussian() * 0.15).toFloat))
  }

  /** The (score, cell) struct list both twins rank: struct_pack keeps
    * field order (s, c) so DuckDB's lexicographic struct compare
    * matches Spark's. */
  private def ivfScoredStructsSql: String =
    ivfCentroids.zipWithIndex.map { case (c, i) =>
      s"struct_pack(s := ${sqlDotConst("embedding", c)}, c := $i)"
    }.mkString(", ")

  /** DuckDB argmax-cell twin of [[ivfCellOf]]. */
  private def ivfCellSql: String =
    s"(list_max([$ivfScoredStructsSql])).c"

  /** Nearest-centroid assignment: argmax of dot(emb, centroid_i) over
    * the centroid list (tie → max cell, mirrored in SQL). Defaults to
    * the fixed seeds; parameterized so a FITTED centroid set (the
    * sim_ivf_fit output) can feed the same assignment — the
    * fit-feeds-the-index loop SimilarityTextSpec witnesses. */
  private def ivfCellOf(emb: Column,
      cents: Seq[Seq[Float]] = ivfCentroids): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(dotConst(emb, c).as("score"), lit(i).as("cell"))
    }
    greatest(scored: _*).getField("cell")
  }

  /** The query's [[IvfNProbe]] best cells, best first — descending
    * (score, cell) struct sort, so ties break to the max cell exactly
    * like [[ivfCellOf]] (and like DuckDB's list_reverse_sort twin). */
  private def ivfTopCells(emb: Column,
      cents: Seq[Seq[Float]] = ivfCentroids,
      nProbe: Int = IvfNProbe): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(dotConst(emb, c).as("score"), lit(i).as("cell"))
    }
    transform(
      slice(sort_array(array(scored: _*), asc = false), 1, nProbe),
      x => x.getField("cell"))
  }

  // Product-quantization parameters: the 64-dim vector splits into
  // PqSubspaces subvectors of PqSubDim dims, each encoded as the
  // argmax-dot codebook entry (PqCodes = 16 ⇒ a 4-bit code), so the
  // WHOLE vector compresses to 8 × 4 = 32 bits — the memory-bound
  // trick that makes billion-vector ANN feasible: the ADC scan reads
  // a 4-byte code word per row instead of 256 bytes of floats.
  // Codebooks are fixed seeded Gaussians, the same documented trade as
  // ivfCentroids (production fits them with k-means — sim_ivf_fit
  // shows the fit pattern; fixed constants keep every assignment and
  // score exactly replayable cross-engine).
  private[graft] val PqSubspaces = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqCodes = 16
  // σ = 0.125 matches the corpus: embeddings are unit-norm 64-dim with
  // per-dim sd 1/8 (measured), so subvectors live at E‖x‖² = 1/8 —
  // centroids drawn from the same scale make the min-L2 assignment
  // meaningful (a mis-scaled codebook quantizes everything to the few
  // entries nearest the data shell).
  private[graft] val pqCodebooks: Seq[Seq[Seq[Float]]] = {
    val rnd = new scala.util.Random(41L)
    Seq.fill(PqSubspaces)(Seq.fill(PqCodes)(
      Seq.fill(PqSubDim)((rnd.nextGaussian() * 0.125).toFloat)))
  }

  /** −‖c‖²/2 per codebook entry, the constant that turns min-L2
    * assignment into an argmax of (dot + bias): argmin ‖x−c‖² ⇔
    * argmax (dot(x,c) − ‖c‖²/2). Computed once in exact doubles and
    * embedded in BOTH engines (VARCHAR hop on the SQL side). */
  private val pqHalfNorms: Seq[Seq[Double]] = halfNormsOf(pqCodebooks)

  /** Dot of subspace `sub` of `emb` with a codebook entry — an 8-term
    * ConstDot chain over the sliced subvector (same IEEE-chain
    * determinism as the full-width dotConst). */
  private def pqSubDot(emb: Column, sub: Int, v: Seq[Float]): Column =
    dotConst(slice(emb, sub * PqSubDim + 1, PqSubDim), v)

  /** Query-side ADC distance tables t0..t7 over `books`: per subspace,
    * the query embedding's dot with each of the 16 entries, built once
    * on the broadcast query row. */
  private def pqTables(books: Seq[Seq[Seq[Float]]]): Seq[Column] =
    (0 until PqSubspaces).map(sub =>
      array((0 until PqCodes).map(i =>
        pqSubDot(col("embedding"), sub, books(sub)(i))): _*).as(s"t$sub"))

  /** DuckDB twin of [[pqSubDot]]: identical 8-term textual chain over
    * 1-based sliced indices. The constant goes through a VARCHAR hop
    * (`CAST('…' AS DOUBLE)` — strtod, correctly rounded): a bare
    * 25-digit literal parses as DECIMAL(25,24), and DuckDB's
    * decimal→double conversion double-rounds via the scaled integer
    * (measured: …270751953125 → …27077 direct vs …27075 hopped =
    * Spark's exact value). The other sqlDotConst consumers never hit
    * this — their chains feed signs/argmaxes (ulp-immune) or use ±1
    * constants (embed_project) — but PQ's table entries are ORACLED
    * VALUES, so the hop is load-bearing here (the Det.sqlSum
    * discipline applied to constants). */
  private def sqlPqSubDot(a: String, sub: Int, v: Seq[Float]): String =
    v.zipWithIndex.map { case (c, i) =>
      s"(CAST(($a)[${sub * PqSubDim + i + 1}] AS DOUBLE) * " +
        s"CAST('${new java.math.BigDecimal(c.toDouble).toPlainString}' " +
        "AS DOUBLE))"
    }.mkString("(", " + ", ")")

  /** Subspace code: min-L2 codebook entry via argmax of
    * (dot − ‖c‖²/2), tie → max code (the ivfCellOf struct-greatest
    * convention). Parameterized by the codebook set so the Lloyd-refit
    * retrieval path (SimilarityTextSpec) reuses the identical argmax;
    * the no-arg form is the fixed-codebook (oracled) path. */
  private def pqCodeOf(emb: Column, sub: Int,
      books: Seq[Seq[Seq[Float]]], halfNorms: Seq[Seq[Double]]): Column =
    greatest((0 until PqCodes).map(i =>
      struct((pqSubDot(emb, sub, books(sub)(i)) -
          lit(halfNorms(sub)(i))).as("s"),
        lit(i).as("c"))): _*).getField("c")

  private[queries] def pqCodeOf(emb: Column, sub: Int): Column =
    pqCodeOf(emb, sub, pqCodebooks, pqHalfNorms)

  /** DuckDB twin of [[pqCodeOf]] (list_max over (s, c) structs; the
    * half-norm constant hops through VARCHAR like the chain terms). */
  private[queries] def sqlPqCode(a: String, sub: Int): String =
    s"(list_max([${(0 until PqCodes).map(i =>
      s"struct_pack(s := (${sqlPqSubDot(a, sub, pqCodebooks(sub)(i))} - " +
        s"CAST('${new java.math.BigDecimal(pqHalfNorms(sub)(i))
          .toPlainString}' AS DOUBLE)), " +
        s"c := $i)").mkString(", ")}])).c"

  /** The c0..c7 select items of the fixed-codebook codes, one a line. */
  private def sqlPqCodes: String = (0 until PqSubspaces)
    .map(sub => s"${sqlPqCode("embedding", sub)} AS c$sub").mkString(",\n")

  /** DuckDB twin of [[pqTables]]: select items `<name>0..7`, one
    * hopped 16-entry dot list per subspace. */
  private def sqlPqTables(books: Seq[Seq[Seq[Float]]], name: String): String =
    (0 until PqSubspaces).map(sub => (0 until PqCodes)
      .map(i => sqlPqSubDot("embedding", sub, books(sub)(i)))
      .mkString("[", ", ", "]") + s" AS $name$sub").mkString(",\n")

  // RESIDUAL product quantization — what production IVFADC actually
  // encodes: not the raw vector but its residual x − c(cell) against
  // the owning IVF centroid (residuals are centered, so a shared
  // codebook fits them far better than raw vectors once cells carry
  // structure). The algebra keeps every stage in the existing exact
  // machinery: the residual never materializes —
  //   argmin_i ‖(x − c)_sub − b_i‖² ⇔ argmax_i (dot(x_sub, b_i) − β),
  //   β = dot(c_sub, b_i) + ‖b_i‖²/2  (a per-(cell, sub, code)
  //   compile-time constant), and
  //   dot(q, c + b̂) = dot(q, c(cell)) + Σ_sub table[code]
  // so the ADC scan gains ONE per-probe-cell constant and the code
  // assignment ONE 2D constant lookup — same chains, same argmax
  // convention, fully oracled. Codebook σ = 0.15 matches the residual
  // scale (raw subvector σ 0.125 ⊕ centroid σ 0.15 at these seeds).
  // σ = 0.19 matches the MEASURED residual scale: cells come from
  // max-dot against random σ0.15 centroids whose norm (≈1.2) exceeds
  // the unit data norm, so ‖x − c‖² ≈ 1 + 1.44 − 2·bestdot ≈ 2.3 →
  // per-dim sd ≈ 0.19. (Unfit random codebooks on residuals still
  // trail raw-vector PQ on THIS corpus — quantizing a longer vector
  // with the same 4 bits is noisier; the spec fits them and shows the
  // production-relevant lift. See the Decl comment.)
  private[graft] val pqResCodebooks: Seq[Seq[Seq[Float]]] = {
    val rnd = new scala.util.Random(43L)
    Seq.fill(PqSubspaces)(Seq.fill(PqCodes)(
      Seq.fill(PqSubDim)((rnd.nextGaussian() * 0.19).toFloat)))
  }

  private def halfNormsOf(books: Seq[Seq[Seq[Float]]]): Seq[Seq[Double]] =
    books.map(_.map(c => c.map(f => f.toDouble * f.toDouble).sum / 2.0))

  /** β(cell)(sub)(code) = dot(centroid_sub, code) + ‖code‖²/2 — the
    * residual-assignment bias, computed ONCE in exact driver doubles
    * and embedded as the same literal in both engines (constants are
    * never engine-computed, so no chain-order hazard exists here). */
  private def resBiasOf(
      books: Seq[Seq[Seq[Float]]]): Seq[Seq[Seq[Double]]] = {
    val hn = halfNormsOf(books)
    ivfCentroids.map { c =>
      (0 until PqSubspaces).map { s2 =>
        (0 until PqCodes).map { i =>
          val sub = c.slice(s2 * PqSubDim, s2 * PqSubDim + PqSubDim)
          sub.zip(books(s2)(i))
            .foldLeft(0.0) { case (a, (x, y)) => a + x.toDouble * y.toDouble } +
            hn(s2)(i)
        }.toVector
      }.toVector
    }
  }

  private val ivfPqResBias: Seq[Seq[Seq[Double]]] = resBiasOf(pqResCodebooks)

  /** Residual-PQ subspace code given the row's IVF cell: argmax over
    * codes of (dot(x_sub, code) − β(cell, sub, code)) — the 16 dots
    * are cell-independent, only the bias lookup is per-cell. */
  private def resCodeOf(emb: Column, cellCol: Column, s2: Int,
      books: Seq[Seq[Seq[Float]]], bias: Seq[Seq[Seq[Double]]]): Column = {
    val bs = array((0 until IvfNumCells).map(k =>
      array((0 until PqCodes).map(i =>
        lit(bias(k)(s2)(i))): _*)): _*)
    greatest((0 until PqCodes).map(i =>
      struct((pqSubDot(emb, s2, books(s2)(i)) -
          element_at(element_at(bs, cellCol + 1), i + 1)).as("s"),
        lit(i).as("c"))): _*).getField("c")
  }

  /** Hopped-constant variant of [[sqlDotConst]]: identical 64-term
    * left-associative chain, constants through the VARCHAR hop — for
    * chains whose VALUE is oracled (the query-centroid dots below),
    * not just its sign/argmax (see sqlPqSubDot's scaladoc for the
    * DECIMAL(25,24) double-rounding trap the hop defuses). */
  private def sqlDotConstHop(a: String, v: Seq[Float]): String =
    v.zipWithIndex.map { case (c, i) =>
      s"(CAST(($a)[${i + 1}] AS DOUBLE) * " +
        s"CAST('${new java.math.BigDecimal(c.toDouble).toPlainString}' " +
        "AS DOUBLE))"
    }.mkString(" + ")

  /** DuckDB 2D literal of β for subspace `s2`: [cell][code], hopped. */
  private def sqlResBias(s2: Int): String =
    (0 until IvfNumCells).map(k =>
      (0 until PqCodes).map(i =>
        s"CAST('${new java.math.BigDecimal(ivfPqResBias(k)(s2)(i))
          .toPlainString}' AS DOUBLE)").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  /** Residual-encoded IVFADC retrieval (see the block comment above):
    * probe the query's cells, ADC-score members off residual codes +
    * the per-cell query⋅centroid constant, exact re-rank. Codebooks
    * parameterized so the spec can feed residual-FIT books through
    * the identical path. */
  private[graft] def ivfPqResidualTopK(
      s: SparkSession, d: String, qid: Long, cand: Int, k: Int,
      books: Seq[Seq[Seq[Float]]] = pqResCodebooks): DataFrame = {
    val bias =
      if (books eq pqResCodebooks) ivfPqResBias else resBiasOf(books)
    val ne = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
    val enc0 = ne.select(col("vec_id"), col("embedding"),
      ivfCellOf(col("embedding")).as("cell"))
    val enc = enc0.select(
      col("vec_id") +: col("embedding") +: col("cell") +:
        (0 until PqSubspaces).map(s2 =>
          resCodeOf(col("embedding"), col("cell"), s2, books, bias)
            .as(s"c$s2")): _*)
    val qcArr = array(ivfCentroids.map(c =>
      dotConst(col("qv"), c)): _*)
    val q = broadcast(ne.filter(col("vec_id") === qid).select(
      col("embedding").as("qv") +: norm2(col("embedding")).as("qn2") +:
        explode(ivfTopCells(col("embedding"))).as("pcell") +:
        pqTables(books): _*)
      .withColumn("qc", element_at(qcArr, col("pcell") + 1)))
    adcTopK(enc, q, gated = true, (col("qc") +: adcTerms()).reduce(_ + _),
      cand, k)
  }

  /** Two-stage PQ/ADC retrieval, parameterized for the recall spec:
    * stage 1 scores the corpus by asymmetric-distance approximation
    * (query-side table of 8×16 subspace dots built ONCE on the
    * broadcast query row; per corpus row the approximate dot is 8
    * table lookups summed) and keeps the top `cand` via TakeOrdered;
    * stage 2 re-ranks only those with the exact decimal cosine. The
    * inline re-encode of the corpus codes exists because registry
    * queries are self-contained — a deployment precomputes them once
    * at ingest (that pass IS `embed_pq_encode`) and the ADC scan then
    * touches 4 bytes per row instead of 256. */
  private[graft] def pqTopK(
      s: SparkSession, d: String, qid: Long, cand: Int, k: Int,
      books: Seq[Seq[Seq[Float]]] = pqCodebooks): DataFrame =
    pqAdcTopK(s, d, qid, cand, k, books, gated = false)

  /** IVF + PQ composition — the production billion-vector layout
    * (IVFADC, Jégou et al.): probe the query's [[IvfNProbe]] nearest
    * cells, ADC-scan ONLY their members (8 table lookups + 7 adds per
    * scanned row off the broadcast query distance table), exact decimal
    * re-rank on the `cand` survivors. vs [[pqTopK]] the ADC scan
    * touches ~nProbe/nCells of the corpus; vs [[annIvfTopK]] each
    * scanned row costs 4 bytes of code word instead of 256 bytes of
    * floats. Every stage is deterministic (fixed centroids + codebooks,
    * struct-max ties, (approx, vec_id) candidate order) ⇒ fully
    * oracled; zero shuffle — corpus side is map-only into two nested
    * TakeOrdereds, the query side is a broadcast 5-row probe frame. */
  private[graft] def ivfPqTopK(
      s: SparkSession, d: String, qid: Long, cand: Int, k: Int): DataFrame =
    pqAdcTopK(s, d, qid, cand, k, pqCodebooks, gated = true)

  /** The body of [[pqTopK]] and [[ivfPqTopK]], which differ only in
    * the fixed IVF cell gate. */
  private def pqAdcTopK(s: SparkSession, d: String, qid: Long, cand: Int,
      k: Int, books: Seq[Seq[Seq[Float]]], gated: Boolean): DataFrame = {
    val halfNorms = halfNormsOf(books)
    val ne = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
    val (cell, pcell) =
      if (gated) (Seq(ivfCellOf(col("embedding")).as("cell")),
        Seq(explode(ivfTopCells(col("embedding"))).as("pcell")))
      else (Nil, Nil)
    val enc = ne.select((col("vec_id") +: col("embedding") +: cell) ++
      (0 until PqSubspaces).map(sub =>
        pqCodeOf(col("embedding"), sub, books, halfNorms).as(s"c$sub")): _*)
    val q = broadcast(ne.filter(col("vec_id") === qid).select(
      (col("embedding").as("qv") +: norm2(col("embedding")).as("qn2") +:
        pcell) ++ pqTables(books): _*))
    adcTopK(enc, q, gated, adcTerms().reduce(_ + _), cand, k)
  }

  /** Parameterized ANN pipelines, shared by the declared queries
    * (qid = 0, k = 10) and SimilarityTextSpec's recall@10 measurement
    * over many query ids. Both keep the 100-TB shape: per-row bucket/
    * cell assignment (map-only), a broadcast handful of query-side
    * probe rows, one equi-join on the bucket key — candidates only,
    * never the full corpus. */
  private[graft] def annLshTopK(
      s: SparkSession, d: String, qid: Long, k: Int): DataFrame = {
    // n2 (the decimal self-dot) is computed on CANDIDATES after the
    // probe join, not corpus-wide: bucket assignment is the cheap
    // double path, so the only per-row decimal work left is on rows
    // that survive probing.
    val e = Tables.embeddings(s, d)
      .withColumn("bucket", lshBucketOf(col("embedding")))
    val q = broadcast(e.filter(col("vec_id") === qid)
      .select(col("embedding").as("qv"), norm2(col("embedding")).as("qn2"),
        explode(array(lshProbeMasks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("pbucket")))
    cosineTopK(withN2(e.join(q, col("bucket") === col("pbucket"))),
      simCol, k)
  }

  /** One distributed Lloyd update: assign every vector to its nearest
    * centroid (per-row map over the given centroid list) and recompute
    * each cell's exact-decimal per-dimension mean — the sim_ivf_fit
    * decl body, parameterized by the CURRENT centroids so the fit can
    * be iterated and its output fed back into the probe path
    * (annIvfTopK's cents parameter): the fit-feeds-the-index loop
    * SimilarityTextSpec witnesses on a corpus the seeds don't match. */
  private[graft] def ivfFitFrame(s: SparkSession, d: String,
      cents: Seq[Seq[Float]] = ivfCentroids): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull) // see the sim_ivf_fit oracle note
      .withColumn("cell", ivfCellOf(col("embedding"), cents))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"),
        (sum(col("x").cast(DoubleType).cast(DecimalType(30, 12)))
          .cast(DoubleType) / count(lit(1))).as("mean"))
      .orderBy("cell", "dim")

  private[graft] def annIvfTopK(
      s: SparkSession, d: String, qid: Long, k: Int,
      cents: Seq[Seq[Float]] = ivfCentroids,
      nProbe: Int = IvfNProbe): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("cell", ivfCellOf(col("embedding"), cents))
    val q = broadcast(Tables.embeddings(s, d)
      .filter(col("vec_id") === qid)
      .select(col("embedding").as("qv"),
        graft.functions.VectorOps.norm2(col("embedding")).as("qn2"),
        explode(ivfTopCells(col("embedding"), cents, nProbe)).as("pcell")))
    cosineTopK(withN2(e.join(q, col("cell") === col("pcell"))), simCol, k)
  }

  /** DuckDB twin of [[lshBucketOf]] (plane literals as exact decimals). */
  private def lshBucketSql: String =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${sqlDotConst("embedding", p)} >= 0 " +
        s"THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB list literal of [[lshProbeMasks]]. */
  private def lshMasksSql: String = lshProbeMasks.mkString("[", ", ", "]")

  /** Top-10 majority-label vote over a (qid, vec_id, label, sim)
    * candidate frame — the shared back half of both k-NN classifiers.
    * Ties break deterministically: rank by (sim desc, vec_id), vote by
    * (n_votes desc, label) — both mirrored in the oracles. */
  private def knnVote(cand: DataFrame): DataFrame = {
    val wTop = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    val wVote = Window.partitionBy("qid")
      .orderBy(col("n_votes").desc, col("label"))
    cand
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 10)
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("n_votes"))
      .orderBy("qid")
  }

  /** Brute-force k-NN classifier (probes = vec_id < nProbes, corpus =
    * the rest): broadcast probe set × corpus scan — exact, by declared
    * intent the small-probe-set formulation. Parameterized so the
    * agreement spec can run it over many probes. */
  private[graft] def knnClassifyBrute(
      s: SparkSession, d: String, nProbes: Long): DataFrame = {
    val e = withN2(Tables.embeddings(s, d))
    val probe = broadcast(e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("n2").as("qn2")))
    knnVote(e.filter(col("vec_id") >= nProbes).crossJoin(probe)
      .select(col("qid"), col("vec_id"), col("label"), simCol.as("sim")))
  }

  /** ANN k-NN classifier — the same vote routed through the FITTED
    * occupancy-scaled IVF index (SimilarityFitted.fittedCsFull — the
    * shared memoized fit of the dedup/retrieval family; r12 verdict
    * item 3 retired the fixed sign-LSH bucket gate, whose 16-bucket
    * space made per-bucket membership — and so the candidate set —
    * grow quadratically with the corpus): each probe's candidates are
    * the corpus rows in its [[KnnFittedNProbe]] nearest fitted cells
    * (equi-join on the cell key against a broadcast probe×pcell
    * expansion). Candidates per probe ≈ nProbe × occupancy — a
    * CONSTANT (~512 rows) at any corpus size, vs the old gate's ~94 %
    * corpus scan that only looked like a filter at fixture sizes.
    * Deterministic given the fitted centroids (the Lloyd fit replays
    * in the oracle), so fully oracled. A 10-vote MAJORITY needs more
    * candidate recall than top-k retrieval, hence the 2× probe width
    * over [[SimilarityFitted.FittedNProbe]]; on a clustered (real)
    * corpus the probed cells hold the vote — SimilarityTextSpec pins
    * agreement ≥ 0.9 vs brute force there — while on the UNIFORM
    * fixture (no geometry for any index to exploit) agreement is
    * probe-fraction-bound like every ANN recall on that corpus; the
    * spec measures and floors it.
    *
    * Unlike the brute classifier (which scans the whole corpus and so
    * always has candidates), a probe whose probed cells hold NO
    * corpus row has nothing to vote on; the probe set is left-joined
    * back so such probes surface as an explicit NULL-label (abstain)
    * row rather than silently vanishing — output cardinality always
    * equals the (non-null-embedding) probe count. */
  private[graft] def knnClassifyAnn(
      s: SparkSession, d: String, nProbes: Long): DataFrame = {
    val fcs = broadcast(SimilarityFitted.fittedCsFull(s, d))
    val ne = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
    val e = ne.crossJoin(fcs)
      .select(col("vec_id"), col("label"), col("embedding"),
        SimilarityFitted.cellOfArr(col("embedding"), col("cs")).as("cell"))
    val probes = broadcast(ne.filter(col("vec_id") < nProbes)
      .crossJoin(fcs)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        norm2(col("embedding")).as("qn2"),
        explode(SimilarityFitted.probeCellsArr(col("embedding"),
          col("cs"), KnnFittedNProbe)).as("pcell")))
    val voted = knnVote(withN2(e.filter(col("vec_id") >= nProbes))
      .join(probes, col("cell") === col("pcell"))
      .select(col("qid"), col("vec_id"), col("label"), simCol.as("sim")))
    ne.filter(col("vec_id") < nProbes).select(col("vec_id").as("qid"))
      .join(voted, Seq("qid"), "left")
      .orderBy("qid")
  }

  /** 1-row (scanned, total) frame: how many corpus rows fall in the
    * query's probed IVF cells — the measured ADC scan fraction
    * SimilarityTextSpec logs against [[ivfPqTopK]] (deterministic:
    * fixed centroids, fixed probe list). */
  private[graft] def ivfScanStats(
      s: SparkSession, d: String, qid: Long): DataFrame = {
    val ne = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
    val e = ne.withColumn("cell", ivfCellOf(col("embedding")))
    val q = broadcast(ne.filter(col("vec_id") === qid)
      .select(ivfTopCells(col("embedding")).as("pcells")))
    e.crossJoin(q).agg(
      sum(when(array_contains(col("pcells"), col("cell")), 1L)
        .otherwise(0L)).as("scanned"),
      count(lit(1)).as("total"))
  }

  /** Exact brute-force top-k twin of the ANN pipelines (scan +
    * TakeOrderedAndProject) — the recall denominator. */
  private[graft] def bruteTopK(
      s: SparkSession, d: String, qid: Long, k: Int): DataFrame =
    cosineTopK(withN2(Tables.embeddings(s, d)).crossJoin(queryVec(s, d, qid)),
      simCol, k)

  /** sim_bitext_mine's side frames + union-fitted candidate gate,
    * extracted so ScaleSpec can pin the gate's output ROWS directly —
    * the allocator-INDEPENDENT linearity quantity (r14 verdict item 4:
    * the candidate distinct's shuffle BYTES depend on how much the
    * map-side hash partials combined before spilling, which is a
    * function of heap size; the distinct row COUNT the gate produces
    * is a semantic property of (corpus, quantizer) and reproduces
    * bit-stably in any JVM). Returns (side A, side B, candidates).
    *
    * localCheckpoint on the side frame (r14): it is read SIX times
    * (both candidate legs read each side twice, the cosine re-join
    * reads both sides again) and its pcells column is the |cells|-dot
    * IvfTopCells kernel — without the lineage cut every reference
    * re-runs the full assignment pass (differently-aliased subplans
    * get no ReusedExchange), turning the one-time O(n × cells) kernel
    * cost into ~6x. One (row, pcells, n2) materialization is strictly
    * cheaper — the split_leakage_safe discipline. */
  // the checkpointed side frame is MEMOIZED per (context, data root): a
  // long-lived session (bench, notebook) re-running the query would
  // otherwise re-materialize the checkpoint per execution; one
  // materialization per session is the fitted-family memo discipline.
  // (An r15 bench bisect first blamed this checkpoint for a ~+15 s
  // full-registry inflation; a same-classes two-phase control then
  // exonerated it — the box's effective CPU speed swings ~±25 % in
  // tens-of-minutes phases, r13 classes reading 79.9 s and 117.2 s
  // take-min within 90 minutes. BASELINE.md r15 carries the record.)
  // r16: graft.SessionMemo — weak per-context outer layer, so a test
  // suite's stopped sessions no longer pin their checkpointed side
  // frames for the JVM's lifetime (r15 ADVICE; conf-capture contract
  // documented on the class). It reads embeddings.parquet only.
  private val bitextSideMemo = new graft.SessionMemo[DataFrame]("embeddings")

  private[graft] def bitextSidesAndCandidates(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.VectorOps.norm2
    val e = bitextSideMemo.getOrCompute(s, d, "bitextSides") {
        val fcs = broadcast(SimilarityFitted.fittedCsBitext(s, d))
        Tables.embeddings(s, d)
          .filter(col("embedding").isNotNull && col("label").isin(0, 1))
          .crossJoin(fcs)
          .select(col("vec_id"), col("label"), col("embedding"),
            SimilarityFitted.probeCellsArr(col("embedding"), col("cs"))
              .as("pcells"),
            norm2(col("embedding")).as("n2"))
          .withColumn("cell", element_at(col("pcells"), 1))
          .localCheckpoint(false)
      }
    val aS = e.filter(col("label") === 0)
    val bS = e.filter(col("label") === 1)
    val cfwd = aS.select(col("vec_id").as("xid"),
        explode(col("pcells")).as("pc"))
      .join(bS.select(col("vec_id").as("yid"), col("cell")),
        col("cell") === col("pc"))
      .select("xid", "yid")
    val cbwd = bS.select(col("vec_id").as("yid"),
        explode(col("pcells")).as("pc"))
      .join(aS.select(col("vec_id").as("xid"), col("cell")),
        col("cell") === col("pc"))
      .select("xid", "yid")
    (aS, bS, cfwd.unionByName(cbwd).distinct())
  }

  /** Shared oracle CTE: cosine of every embedding against vec 0. */
  private def simsCte(extraCols: String = ""): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |pairs AS (SELECT e.vec_id$extraCols, unnest(e.embedding) AS x,
       |            unnest(q.qv) AS y
       |          FROM embeddings e, q),
       |sims AS (SELECT vec_id$extraCols, ${sqlDot("x", "y")} AS dot,
       |            ${sqlDot("x", "x")} AS nx, ${sqlDot("y", "y")} AS ny
       |          FROM pairs GROUP BY ALL),
       |cos AS (SELECT vec_id$extraCols, dot / (sqrt(nx) * sqrt(ny)) AS sim
       |        FROM sims)""".stripMargin

  def decls: Seq[Decl] = Seq(

    // C3: brute-force cosine top-k against a query vector.
    Decl("sim_topk_cosine",
      s"""${simsCte()}
         |SELECT vec_id, sim FROM cos
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      bruteTopK(s, d, 0, 10)
    },

    // C3b: RANGE similarity search — every vector above a cosine
    // threshold, the complement of top-k (result size data-dependent,
    // so no TakeOrdered; a scan + filter that stays a pure map over the
    // corpus plus one ordering of the small survivor set).
    Decl("sim_range_search",
      s"""${simsCte()}
         |SELECT vec_id, sim FROM cos WHERE sim >= 0.35
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      withN2(Tables.embeddings(s, d))
        .crossJoin(queryVec(s, d, 0))
        .select(col("vec_id"), simCol.as("sim"))
        .filter(col("sim") >= 0.35)
        .orderBy("vec_id")
    },

    // C4: blocked all-pairs similarity join — probe subset × same-label
    // block, threshold filter. Blocking bounds candidates to O(block²).
    Decl("sim_join",
      s"""WITH probe AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0),
         |cand AS (SELECT p.vec_id AS v1, e.vec_id AS v2, p.label,
         |           unnest(p.embedding) AS x, unnest(e.embedding) AS y
         |         FROM probe p JOIN embeddings e
         |           ON p.label = e.label AND p.vec_id < e.vec_id),
         |sims AS (SELECT v1, v2, label, ${sqlDot("x", "y")} AS dot,
         |           ${sqlDot("x", "x")} AS nx, ${sqlDot("y", "y")} AS ny
         |         FROM cand GROUP BY ALL)
         |SELECT v1, v2, label, dot / (sqrt(nx) * sqrt(ny)) AS sim
         |FROM sims WHERE dot / (sqrt(nx) * sqrt(ny)) >= 0.2
         |ORDER BY v1, v2""".stripMargin) { (s, d) =>
      val e = withN2(Tables.embeddings(s, d))
      val probe = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("v1"), col("label"),
          col("embedding").as("emb1"), col("n2").as("n2a"))
      val cand = probe.join(e.select(col("vec_id").as("v2"),
          col("label").as("l2"), col("embedding").as("emb2"),
          col("n2").as("n2b")),
        col("label") === col("l2") && col("v1") < col("v2"))
      cand.select(col("v1"), col("v2"), col("label"),
          cosineWithNorms(col("emb1"), col("emb2"), col("n2a"), col("n2b"))
            .as("sim"))
        .filter(col("sim") >= 0.2)
        .orderBy("v1", "v2")
    },

    // C5: k-NN majority-label classification of probe vectors.
    Decl("knn_classify",
      s"""WITH probe AS (SELECT vec_id AS qid, embedding AS qv
         |              FROM embeddings WHERE vec_id < 5),
         |cand AS (SELECT p.qid, e.vec_id, e.label,
         |           unnest(e.embedding) AS x, unnest(p.qv) AS y
         |         FROM probe p, embeddings e WHERE e.vec_id >= 5),
         |sims AS (SELECT qid, vec_id, label, ${sqlDot("x", "y")} AS dot,
         |           ${sqlDot("x", "x")} AS nx, ${sqlDot("y", "y")} AS ny
         |         FROM cand GROUP BY ALL),
         |ranked AS (SELECT qid, vec_id, label,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC, vec_id)
         |               AS rn
         |           FROM sims),
         |votes AS (SELECT qid, label, COUNT(*) AS n_votes
         |          FROM ranked WHERE rn <= 10 GROUP BY qid, label)
         |SELECT qid, label AS pred_label, n_votes FROM (
         |  SELECT qid, label, n_votes, row_number() OVER (
         |    PARTITION BY qid ORDER BY n_votes DESC, label) AS vr
         |  FROM votes) WHERE vr = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      knnClassifyBrute(s, d, 5)
    },

    // C5-scale: ANN k-NN classification — the knn_classify vote with
    // candidates from the probe's KnnFittedNProbe nearest FITTED
    // occupancy-scaled IVF cells instead of the full corpus (see
    // knnClassifyAnn — r12 verdict item 3 retired the fixed sign-LSH
    // bucket gate). The oracle replays the Lloyd fit, the exact cell
    // assignment/probing and the vote; agreement vs brute force is
    // pinned ≥ 0.9 on a clustered corpus in SimilarityTextSpec (the
    // uniform fixture is probe-fraction-bound and floored there).
    Decl("knn_classify_ann", Seq(
      s"WITH ${SimilarityFitted.fittedCtes("")}",
      "b AS (SELECT em.vec_id, em.label, em.embedding, " +
        s"${SimilarityFitted.cellSqlOf("em.embedding")} AS cell " +
        "FROM embeddings em WHERE em.embedding IS NOT NULL)",
      "probe AS (SELECT vec_id AS qid, embedding AS qv, " +
        s"${SimilarityFitted.pcellsSqlOf("embedding", KnnFittedNProbe)} " +
        "AS pcells FROM b WHERE vec_id < 5)",
      "pr AS (SELECT qid, qv, UNNEST(pcells) AS pcell FROM probe)",
      "cand AS (SELECT qid, b.vec_id, b.label, " +
        s"${sqlDotList("embedding", "qv")} AS dot, " +
        s"${sqlDotList("embedding", "embedding")} AS nx, " +
        s"${sqlDotList("qv", "qv")} AS ny " +
        "FROM b JOIN pr ON b.cell = pr.pcell WHERE b.vec_id >= 5)",
      "ranked AS (SELECT qid, vec_id, label, " +
        "row_number() OVER (PARTITION BY qid " +
        "ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC, vec_id) AS rn " +
        "FROM cand)",
      "votes AS (SELECT qid, label, COUNT(*) AS n_votes " +
        "FROM ranked WHERE rn <= 10 GROUP BY qid, label)"
    ).mkString(",\n") + "\n" +
      "SELECT p.qid, w.pred_label, w.n_votes " +
      "FROM probe p LEFT JOIN (" +
      "SELECT qid, label AS pred_label, n_votes FROM (" +
      "SELECT qid, label, n_votes, row_number() OVER (" +
      "PARTITION BY qid ORDER BY n_votes DESC, label) AS vr " +
      "FROM votes) WHERE vr = 1) w ON p.qid = w.qid " +
      "ORDER BY p.qid") { (s, d) =>
      knnClassifyAnn(s, d, 5)
    },

    // C10: multimodal join — text table ⋈ vector table on id, filtered by
    // a text-side predicate, ranked by vector-side similarity.
    Decl("multimodal_join",
      s"""${simsCte()}
         |SELECT d.doc_id, c.sim, d.n_chars, d.source
         |FROM documents d JOIN cos c ON d.doc_id = c.vec_id
         |WHERE d.lang = 'en'
         |ORDER BY c.sim DESC, d.doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang") === "en")
      withN2(Tables.embeddings(s, d))
        .crossJoin(queryVec(s, d, 0))
        .select(col("vec_id"), simCol.as("sim"))
        .join(docs, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("sim"), col("n_chars"), col("source"))
        .orderBy(col("sim").desc, col("doc_id"))
        .limit(20)
    },

    // C3-scale: ANN via random-hyperplane LSH with MULTI-PROBE —
    // embeddings bucketed by the sign signature over LshNumPlanes fixed
    // seeded hyperplanes; the query expands to every bucket within
    // Hamming radius LshProbeRadius of its own (a compile-time mask
    // list exploded on the broadcast query side, so the corpus join
    // stays a plain equi-join on the bucket key). Approximate vs brute
    // force, but fully DETERMINISTIC given the fixed planes, so the
    // oracle replays the exact bucketing (plane literals embedded as
    // exact decimals); SimilarityTextSpec pins recall@10 ≥ 0.8 vs
    // brute force at sf0.1.
    {
      val bucketSql = lshBucketSql
      val masksSql = lshMasksSql
      Decl("sim_ann_lsh",
        s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
           |           FROM embeddings),
           |q AS (SELECT embedding AS qv, bucket AS qbucket
           |      FROM b WHERE vec_id = 0),
           |probes AS (SELECT qv, xor(qbucket, m) AS pbucket
           |           FROM q, UNNEST($masksSql) AS u(m)),
           |${sqlCosTopK("embedding", "qv",
                "b JOIN probes ON b.bucket = probes.pbucket", 10)}""".stripMargin) {
        (s, d) => annLshTopK(s, d, 0L, 10)
      }
    },

    // C3-scale (IVF flavor): inverted-file ANN with MULTI-PROBE — a
    // fixed set of seeded centroids partitions the space; each vector
    // is assigned to its nearest centroid (one pass, broadcastable
    // centroid list), and a query probes its IvfNProbe nearest cells
    // (exploded on the broadcast query side → plain equi-join on the
    // cell key). At 100 TB the assignment is a per-row map and each
    // probe touches ~nProbe/nCells of the data. Centroids here are
    // seeded pseudo-random (a k-means fit — sim_ivf_fit — would slot in
    // without changing the query shape). Deterministic given the fixed
    // centroids ⇒ oracled (list_reverse_sort of (score, cell) structs
    // mirrors Spark's descending struct sort incl. tie→max-cell);
    // SimilarityTextSpec pins recall@10 ≥ 0.8 vs brute force at sf0.1.
    Decl("sim_ann_ivf",
      s"""WITH a AS (SELECT vec_id, embedding, $ivfCellSql AS cell
         |           FROM embeddings),
         |q AS (SELECT embedding AS qv,
         |        list_transform(list_reverse_sort(
         |          [$ivfScoredStructsSql])[1:$IvfNProbe], x -> x.c)
         |          AS pcells
         |      FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT qv, UNNEST(pcells) AS pcell FROM q),
         |${sqlCosTopK("embedding", "qv",
              "a JOIN probes ON a.cell = probes.pcell", 10)}""".stripMargin) {
      (s, d) => annIvfTopK(s, d, 0L, 10)
    },

    // IVF training step — one Lloyd iteration over the corpus: assign
    // every vector to its nearest centroid (per-row map, broadcastable
    // centroid list), then recompute each cell's mean per dimension.
    // The recompute is posexplode → groupBy(cell, dim) — a single
    // shuffle of narrow (cell, dim, value) rows whose width is fixed by
    // k×dims, not corpus size, which is exactly how a distributed
    // k-means iteration scales. Exact decimal means keep the 512-row
    // output bit-identical to the DuckDB replay.
    Decl("sim_ivf_fit",
      // null vectors carry no coordinates — a k-means update ignores
      // them on both engines (DuckDB would otherwise still cross the
      // row with the dim range and count NULL coordinates into n)
      s"""WITH a AS (SELECT vec_id, embedding, $ivfCellSql AS cell
         |           FROM embeddings WHERE embedding IS NOT NULL),
         |d AS (SELECT cell, k AS dim,
         |        CAST(embedding[k] AS DOUBLE) AS x
         |      FROM a, UNNEST(range(1, 65)) AS u(k))
         |SELECT cell, dim - 1 AS dim, COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(30,12)))
         |       AS VARCHAR) AS DOUBLE)
         |    / COUNT(*) AS mean
         |FROM d GROUP BY cell, dim ORDER BY cell, dim""".stripMargin) { (s, d) =>
      // scale-12 decimal mean (the VectorOps quantum, NOT Det's scale 6:
      // embedding floats carry ~1e-8 precision, money data only 1e-4).
      // The oracle casts via VARCHAR: a raw float-widened double can be
      // dyadic with its exact decimal expansion ending in 5 at digit 13
      // (0.1983642578125 = 1625/2^13 in the fixtures) — a true scale-12
      // tie, where Spark rounds the SHORTEST REPR half-up but DuckDB's
      // direct double→decimal rounds the binary value half-to-even.
      // DuckDB's double→VARCHAR prints the shortest repr and its
      // VARCHAR→DECIMAL rounds half-up, so via-VARCHAR reproduces
      // Spark's Cast exactly. (Product terms — VectorOps — never tie:
      // a float×float product carries ~50 fraction bits.)
      ivfFitFrame(s, d)
    },

    // L2 normalization: per-vector norm from the exact decimal dot
    // (identical doubles both engines), then elementwise divide — the
    // preprocessing step that turns cosine into plain dot product so
    // downstream ANN can index normalized vectors. Map-only; the norm
    // is computed once per row. Output pins the norm and the first
    // normalized element (norm, e1, e1/norm share the IEEE tree).
    Decl("embed_normalize",
      s"""SELECT vec_id, label,
         |  sqrt(${sqlDotList("embedding", "embedding")}) AS norm,
         |  CAST(embedding[1] AS DOUBLE) /
         |    sqrt(${sqlDotList("embedding", "embedding")}) AS e1n
         |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      val nrm = sqrt(norm2(col("embedding")))
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), nrm.as("norm"),
          (element_at(col("embedding"), 1).cast(DoubleType) / nrm).as("e1n"))
        .orderBy("vec_id")
    },

    // Symmetric int8 quantization: scale = 127 / max|x| per vector,
    // q = ⌊x·scale + 0.5⌋ (round-half-up via floor — identical IEEE
    // ops in both engines, no engine-specific round()). An all-zero
    // vector quantizes to all zeros explicitly — without the guard the
    // scale is 127/0 = Inf and 0·Inf = NaN, whose Long cast is
    // engine-specific. The 16× size reduction is THE storage lever for
    // 100 TB embedding corpora; integer outputs make the op exactly
    // oracle-able.
    Decl("embed_quantize",
      """WITH q AS (SELECT vec_id,
        |    CASE WHEN list_max(list_transform(embedding, y ->
        |        abs(CAST(y AS DOUBLE)))) = 0.0
        |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding, x ->
        |        CAST(FLOOR(CAST(x AS DOUBLE) *
        |          (127.0 / list_max(list_transform(embedding, y ->
        |            abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT)) END AS qv
        |  FROM embeddings)
        |SELECT vec_id, CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      val mx = array_max(transform(col("embedding"),
        y => abs(y.cast(DoubleType))))
      val qv = when(mx === 0.0,
        transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast(DoubleType) * (lit(127.0) / mx) + 0.5)
            .cast(LongType)))
      Tables.embeddings(s, d)
        .withColumn("qv", qv)
        .select(col("vec_id"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("qv")).as("q_min"),
          array_max(col("qv")).as("q_max"))
        .orderBy("vec_id")
    },

    // Johnson–Lindenstrauss random projection 64 → 16 dims: x ↦ Rx/√16
    // with a fixed seeded ±1 (Rademacher) matrix — the dimensionality
    // reduction that shrinks an embedding corpus 4× while preserving
    // pairwise distances to ~1/√16 (SimilaritySpec measures and pins the
    // cosine distortion vs full space). Map-only over the corpus (no
    // shuffle at all); each output dim is one ConstDot kernel — a fixed
    // left-associative IEEE chain over the shared constants, so all 16
    // doubles are bit-identical in DuckDB without decimal arithmetic.
    // ±1 entries beat Gaussians operationally (Achlioptas 2001): exact
    // representability makes the op oracle-able, and at 100 TB the
    // projection fuses into the scan's codegen stage.
    Decl("embed_project", {
      val dims = rpPlanes.zipWithIndex.map { case (p, j) =>
        s"  (${sqlDotConst("embedding", p)}) * 0.25 AS p${j + 1}"
      }.mkString(",\n")
      s"""SELECT vec_id,
         |$dims
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      val dims = rpPlanes.zipWithIndex.map { case (p, j) =>
        (dotConst(col("embedding"), p) * 0.25).as(s"p${j + 1}")
      }
      Tables.embeddings(s, d)
        .select(col("vec_id") +: dims: _*)
        .orderBy("vec_id")
    },

    // Two-stage retrieval on the JL projection — the pattern that makes
    // random projection PAY at scale: stage 1 scores the WHOLE corpus
    // in 16-dim projected space (16 fused ConstDots per row — 4× less
    // arithmetic and 4× less memory traffic than full-space scoring)
    // and keeps the top 50 via TakeOrdered; stage 2 re-ranks only those
    // 50 candidates with the exact 64-dim cosine. Both stages are
    // deterministic (ConstDot chains + the decimal-dot contract), so
    // the oracle replays candidate selection AND re-ranking exactly.
    // SimilarityTextSpec pins stage-1 recall vs the brute-force top-10.
    Decl("sim_topk_projected", {
      def pj(a: String) = rpPlanes
        .map(p => s"((${sqlDotConst(a, p)}) * 0.25)")
        .mkString("[", ", ", "]")
      s"""WITH q AS (SELECT embedding AS qv, ${pj("embedding")} AS pq
         |           FROM embeddings WHERE vec_id = 0),
         |p AS (SELECT e.vec_id, e.embedding, q.qv,
         |        ${pj("e.embedding")} AS pe, q.pq
         |      FROM embeddings e, q),
         |c AS (SELECT vec_id, embedding, qv,
         |        ${sqlCosList("pe", "pq")} AS sim_proj
         |      FROM p ORDER BY sim_proj DESC, vec_id LIMIT 50)
         |SELECT vec_id, sim_proj, ${sqlCosList("embedding", "qv")} AS sim
         |FROM c ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val projArr = (c: Column) =>
        array(rpPlanes.map(p => dotConst(c, p) * 0.25): _*)
      val q = broadcast(Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), norm2(col("embedding")).as("qn2"),
          projArr(col("embedding")).as("pq")))
        // query-side projected norm computed ONCE in the broadcast
        // frame — same double as recomputing per row (deterministic
        // kernel, identical inputs), one 16-dim decimal dot per corpus
        // row saved
        .withColumn("pqn", sqrt(dotDeclarative(col("pq"), col("pq"))))
      val stage1 = Tables.embeddings(s, d).crossJoin(q)
        .select(col("vec_id"), col("embedding"), col("qv"), col("qn2"),
          { val pv = projArr(col("embedding"))
            (dotDeclarative(pv, col("pq")) /
              (sqrt(dotDeclarative(pv, pv)) * col("pqn"))).as("sim_proj") })
        .orderBy(col("sim_proj").desc, col("vec_id")).limit(50)
      cosineTopK(stage1, cosineWithNorms(col("embedding"), col("qv"),
        norm2(col("embedding")), col("qn2")), 10, "sim_proj")
    },

    // PQ ingest pass: every vector → its packed product-quantization
    // code word (8 subspaces × 4-bit argmax-dot code = 32 bits in one
    // BIGINT). This is the compression that makes billion-vector ANN
    // memory-feasible: the index stores 4 bytes/vector instead of 256,
    // and sim_topk_pq's ADC scan reads only this column. Map-only (no
    // shuffle); every code is exactly oracled because codebooks are
    // fixed constants and the argmax replays via the same struct-max
    // convention as the IVF cell assignment. Null payloads are dropped
    // at the source (the media-pipeline contract).
    Decl("embed_pq_encode", {
      val packed = (0 until PqSubspaces).map(sub =>
        s"(CAST(${sqlPqCode("embedding", sub)} AS BIGINT) * " +
          s"${1L << (4 * sub)})")
        .mkString(" + ")
      s"""SELECT vec_id, CAST($packed AS BIGINT) AS pq_code
         |FROM embeddings WHERE embedding IS NOT NULL
         |ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      val packed = (0 until PqSubspaces).map(sub =>
        pqCodeOf(col("embedding"), sub).cast(LongType) *
          lit(1L << (4 * sub)))
        .reduce(_ + _)
      Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), packed.as("pq_code"))
        .orderBy("vec_id")
    },

    // PQ/ADC two-stage retrieval (see pqTopK): approximate dots from
    // the query-side distance table (built once on the broadcast query
    // row — 8 lookups + 7 adds per corpus row, the memory-bandwidth
    // win), exact decimal-cosine re-rank on the 100 survivors (an
    // ABSOLUTE re-rank budget: 100 of 10⁹ at production scale; this
    // uniform-random corpus is 4-bit PQ's worst case — no cluster
    // structure for codebooks to exploit — and recall@10 = 0.56 ≥ 0.5
    // is pinned there, ~11× the 100/2000 = 5% random-candidate
    // baseline).
    // Every stage is deterministic — codebook constants, left-assoc
    // IEEE chains, struct-max code ties, (approx, vec_id) candidate
    // order — so the oracle replays candidate selection AND re-ranking
    // exactly; SimilarityTextSpec pins the recall floor.
    Decl("sim_topk_pq",
      s"""WITH ne AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE embedding IS NOT NULL),
         |q AS (SELECT embedding AS qv,
         |${sqlPqTables(pqCodebooks, "t")}
         |      FROM ne WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding,
         |$sqlPqCodes
         |      FROM ne),
         |${sqlAdcTopK("q.qv", sqlAdcTerms("q"), gated = false, 100, 10)}""".stripMargin) { (s, d) =>
      pqTopK(s, d, 0, 100, 10)
    },

    // IVF + PQ composed (see ivfPqTopK): cell-pruned ADC — the
    // billion-vector production layout. The query's IvfNProbe best
    // cells gate WHICH rows the ADC table-lookup scan touches
    // (~nProbe/nCells of the corpus), and the exact decimal re-rank
    // keeps the same absolute 100-candidate budget as sim_topk_pq, so
    // the scanned-row cost drops by the probe fraction at identical
    // re-rank cost. Both halves are the already-oracled machineries of
    // sim_ann_ivf (cell assignment + probe list) and sim_topk_pq (codes
    // + query distance tables), composed — deterministic end to end,
    // so candidate selection AND re-ranking replay exactly in DuckDB.
    // SimilarityTextSpec pins recall@10 ≥ the PQ-alone floor and logs
    // the measured scan fraction; ScaleSpec pins the zero-shuffle
    // fingerprint (broadcast probe frame + two nested TakeOrdereds).
    Decl("sim_ann_ivfpq",
      s"""WITH ne AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE embedding IS NOT NULL),
         |e AS (SELECT vec_id, embedding, $ivfCellSql AS cell,
         |$sqlPqCodes
         |      FROM ne),
         |q AS (SELECT embedding AS qv,
         |        list_transform(list_reverse_sort(
         |          [$ivfScoredStructsSql])[1:$IvfNProbe], x -> x.c)
         |          AS pcells,
         |${sqlPqTables(pqCodebooks, "t")}
         |      FROM ne WHERE vec_id = 0),
         |p AS (SELECT qv, $sqlAdcTableCols, UNNEST(pcells) AS pcell FROM q),
         |${sqlAdcTopK("p.qv", sqlAdcTerms("p"), gated = true, 100, 10)}""".stripMargin) { (s, d) =>
      ivfPqTopK(s, d, 0, 100, 10)
    },

    // RESIDUAL-encoded IVFADC (see ivfPqResidualTopK): the form
    // production systems actually ship — PQ codes quantize the
    // residual x − c(cell), folded into compile-time per-(cell, sub,
    // code) bias constants so the residual never materializes; the
    // ADC score gains one per-probe-cell query⋅centroid constant.
    // Everything stays deterministic (shared 16-dot chains + a 2D
    // constant lookup in the argmax; hopped constants where VALUES
    // are oracled) ⇒ codes, candidate order and re-rank all replay
    // exactly in DuckDB. Honest geometry, measured in
    // SimilarityTextSpec: on THIS uniform corpus cells carry no
    // structure, the residual is LONGER than the raw vector, and
    // residual codes trail raw ones (0.405 vs 0.545 recall@10 — the
    // ≥ 0.3 floor still 8× the random-candidate baseline); on a
    // clustered corpus (the regime real embeddings live in) the same
    // machinery with fit codebooks beats raw-fit PQ 0.680 vs 0.540
    // at the identical 8×4-bit budget — the claim the production
    // layout rests on, witnessed with both corpora.
    Decl("sim_ann_ivfpq_residual", {
      val codes = (0 until PqSubspaces).map(s2 =>
        s"(list_max(list_transform(range(0, $PqCodes), i -> " +
          s"struct_pack(s := d$s2[i + 1] - " +
          s"(${sqlResBias(s2)})[cell + 1][i + 1], " +
          "c := CAST(i AS INTEGER))))).c AS c" + s2).mkString(",\n")
      val qcArr = ivfCentroids
        .map(c => s"(${sqlDotConstHop("embedding", c)})")
        .mkString("[", ", ", "]")
      val approx = "p.qc_arr[p.pcell + 1] + " + sqlAdcTerms("p")
      s"""WITH ne AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE embedding IS NOT NULL),
         |e0 AS (SELECT vec_id, embedding, $ivfCellSql AS cell,
         |${sqlPqTables(pqResCodebooks, "d")}
         |       FROM ne),
         |e AS (SELECT vec_id, embedding, cell,
         |$codes
         |      FROM e0),
         |q AS (SELECT embedding AS qv,
         |        list_transform(list_reverse_sort(
         |          [$ivfScoredStructsSql])[1:$IvfNProbe], x -> x.c)
         |          AS pcells,
         |        $qcArr AS qc_arr,
         |${sqlPqTables(pqResCodebooks, "t")}
         |      FROM ne WHERE vec_id = 0),
         |p AS (SELECT qv, qc_arr, $sqlAdcTableCols, UNNEST(pcells) AS pcell FROM q),
         |${sqlAdcTopK("p.qv", approx, gated = true, 100, 10)}""".stripMargin
    }) { (s, d) =>
      ivfPqResidualTopK(s, d, 0, 100, 10)
    },

    // PQ codebook training step — one Lloyd update per subspace over
    // the corpus: assign every subvector to its (fixed-codebook) code,
    // then recompute each (subspace, code) centroid as the exact
    // decimal per-dimension mean — sim_ivf_fit's k-means discipline
    // applied to the 8 × 16 product-quantization codebooks. The
    // shuffle is (subspace × code × dim)-bounded (≤ 1024 keys) after
    // map-side partial aggregation, never corpus-sized — exactly how a
    // distributed PQ fit scales. Deterministic assignment (struct-max
    // argmax) + exact decimal means ⇒ fully oracled; the refit
    // retrieval path (SimilarityTextSpec) feeds these means back into
    // pqTopK and pins recall strictly above the fixed-codebook floor.
    Decl("pq_fit_codebooks", {
      val codeCase = (0 until PqSubspaces - 1)
        .map(sub => s"WHEN $sub THEN c$sub").mkString(" ")
      s"""WITH a AS (SELECT embedding,
         |$sqlPqCodes
         |      FROM embeddings WHERE embedding IS NOT NULL),
         |s AS (SELECT CAST(t.sub AS INTEGER) AS sub,
         |        CAST(CASE t.sub $codeCase
         |          ELSE c${PqSubspaces - 1} END AS INTEGER) AS code,
         |        CAST(u.j AS INTEGER) AS dim,
         |        CAST(embedding[t.sub * $PqSubDim + u.j + 1] AS DOUBLE) AS x
         |      FROM a, range(0, $PqSubspaces) t(sub),
         |           range(0, $PqSubDim) u(j))
         |SELECT sub, code, dim, COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(30,12)))
         |       AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean
         |FROM s GROUP BY sub, code, dim
         |ORDER BY sub, code, dim""".stripMargin
    }) { (s, d) =>
      // scale-12 decimal mean via the sim_ivf_fit VARCHAR-hop contract
      // (see that query's scaladoc for the tie-rounding argument)
      val subs = array((0 until PqSubspaces).map(sub => struct(
        lit(sub).as("sub"),
        pqCodeOf(col("embedding"), sub).as("code"),
        slice(col("embedding"), sub * PqSubDim + 1, PqSubDim).as("sv"))): _*)
      Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(explode(subs).as("t"))
        .select(col("t.sub").as("sub"), col("t.code").as("code"),
          posexplode(col("t.sv")).as(Seq("dim", "x")))
        .groupBy("sub", "code", "dim")
        .agg(count(lit(1)).as("n"),
          (sum(col("x").cast(DoubleType).cast(DecimalType(30, 12)))
            .cast(DoubleType) / count(lit(1))).as("mean"))
        .orderBy("sub", "code", "dim")
    },

    // SemDeDup-shaped semantic dedup: near-duplicate embedding pairs
    // blocked by the sign-LSH bucket — a CONTENT-derived key, unlike
    // dedup_embedding's label blocking (labels are metadata a real
    // corpus's duplicates need not share). Probe side is the
    // deterministic 1-in-20 hash sample; candidates are within-bucket
    // only, so pair volume is corpus/buckets-linear and the bucket key
    // shuffles — never an all-pairs cross. The cosine rides the exact
    // DecimalDot kernel, so the verify stage itself is oracled.
    Decl("dedup_semantic",
      s"""WITH b AS (SELECT vec_id, embedding, $lshBucketSql AS bucket
         |           FROM embeddings),
         |cand AS (SELECT p.vec_id AS v1, e.vec_id AS v2, p.bucket,
         |    unnest(p.embedding) AS x, unnest(e.embedding) AS y
         |  FROM b p JOIN b e
         |    ON p.bucket = e.bucket AND p.vec_id < e.vec_id
         |  WHERE p.vec_id % 20 = 0),
         |sims AS (SELECT v1, v2, bucket,
         |    ${graft.functions.VectorOps.sqlDot("x", "y")} AS dot,
         |    ${graft.functions.VectorOps.sqlDot("x", "x")} AS nx,
         |    ${graft.functions.VectorOps.sqlDot("y", "y")} AS ny
         |  FROM cand GROUP BY ALL)
         |SELECT bucket, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN dot / (sqrt(nx) * sqrt(ny)) >= 0.5
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_dups
         |FROM sims GROUP BY bucket ORDER BY bucket""".stripMargin) {
      (s, d) =>
      import graft.functions.VectorOps.{cosineWithNorms, norm2}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          lshBucketOf(col("embedding")).as("bucket"),
          norm2(col("embedding")).as("n2"))
      val probe = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("v1"), col("bucket"),
          col("embedding").as("emb1"), col("n2").as("n2a"))
      probe.join(e.select(col("vec_id").as("v2"),
          col("bucket").as("b2"), col("embedding").as("emb2"),
          col("n2").as("n2b")),
        col("bucket") === col("b2") && col("v1") < col("v2"))
        .select(col("bucket"),
          cosineWithNorms(col("emb1"), col("emb2"),
            col("n2a"), col("n2b")).as("sim"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sim") >= 0.5, 1L).otherwise(0L))
            .as("n_sem_dups"))
        .orderBy("bucket")
    },

    // Contrastive-pair mining — the training-data prep step for dense
    // retrievers / embedding models (in-batch negatives are easy; the
    // pairs that move a model are ANN-MINED HARD negatives: the most
    // similar vector that is NOT the anchor's class). Per probe anchor:
    //   positive  = argmax-cosine SAME-label vector (label-blocked
    //               join — EXACT by contract, the spec pins positive
    //               optimality; candidates are anchors × class, which
    //               is linear in the real mining regime of bounded-
    //               SIZE duplicate/paraphrase groups and quadratic on
    //               this fixture's fixed 10-label corpus where class
    //               ∝ n — the COMPUTE price of exactness. The SHUFFLE
    //               is anchor-bounded either way: the argmax is an
    //               associative struct-max aggregate with map-side
    //               partials, not a window — see pick());
    //   hard neg  = argmax-cosine DIFFERENT-label vector among the
    //               anchor's probed FITTED cells (the occupancy-scaled
    //               index of SimilarityFitted, shared memo with the
    //               dedup family — candidates are nProbe × occupancy
    //               rows per anchor, input-linear at any corpus size,
    //               which is what makes mining viable at billions of
    //               vectors; r12 verdict item 3 retired the fixed
    //               8-cell gate whose per-cell pair space grew
    //               quadratically);
    //   margin    = pos_sim − neg_sim, the curriculum/difficulty
    //               signal mining pipelines sort by.
    // Both argmaxes are row_number picks ordered by (sim DESC, vec_id)
    // over bit-identical decimal-kernel cosines, and the DuckDB twin
    // replays the Lloyd fit CTE-by-CTE, so the whole triplet set
    // replays exactly (QUALIFY twin). Anchors whose probe cells hold
    // no cross-label candidate drop via the inner join — deterministic
    // on both engines.
    Decl("sim_hard_negatives", Seq(
      s"WITH ${SimilarityFitted.fittedCtes("")}",
      "a AS (SELECT em.vec_id, em.label, em.embedding, " +
        s"${SimilarityFitted.cellSqlOf("em.embedding")} AS cell " +
        "FROM embeddings em WHERE em.embedding IS NOT NULL)",
      "anc AS (SELECT vec_id AS aid, label AS albl, embedding AS av, " +
        s"${SimilarityFitted.pcellsSqlOf("embedding")} AS pcells " +
        "FROM a WHERE vec_id % 20 = 0)",
      "pos AS (SELECT aid, a.vec_id AS pos_id, " +
        s"${sqlCosList("av", "a.embedding")} AS pos_sim " +
        "FROM anc JOIN a ON a.label = anc.albl AND a.vec_id <> anc.aid " +
        "QUALIFY row_number() OVER (PARTITION BY aid " +
        "ORDER BY pos_sim DESC, a.vec_id) = 1)",
      "pr AS (SELECT aid, albl, av, UNNEST(pcells) AS pc FROM anc)",
      "neg AS (SELECT aid, a.vec_id AS neg_id, " +
        s"${sqlCosList("av", "a.embedding")} AS neg_sim " +
        "FROM pr JOIN a ON a.cell = pr.pc AND a.label <> pr.albl " +
        "QUALIFY row_number() OVER (PARTITION BY aid " +
        "ORDER BY neg_sim DESC, a.vec_id) = 1)"
    ).mkString(",\n") + "\n" +
      "SELECT pos.aid AS anchor_id, pos_id, pos_sim, " +
      "neg_id, neg_sim, pos_sim - neg_sim AS margin " +
      "FROM pos JOIN neg ON neg.aid = pos.aid " +
      "ORDER BY anchor_id") { (s, d) =>
      import graft.functions.VectorOps.{cosineWithNorms, norm2}
      val fcs = broadcast(SimilarityFitted.fittedCsFull(s, d))
      // Multi-eval audit (r15, the bitext ~6x class — measured, NOT
      // applied): both argmax legs re-read this corpus frame and the
      // anchor frame, so the assignment kernels do run twice — but a
      // localCheckpoint lineage cut here measured 0.85 s → 7.0 s
      // steady-state at sf0.1 (isolated, take-min): the materialized
      // anchor frame's in-memory stats push the planner off the
      // anchor-side broadcast onto a sort-merge join keyed by the
      // 10-value label column, which costs far more than the second
      // kernel pass. Unlike the bitext side frame (read 6x, joins
      // keyed on high-cardinality cell/vec_id), this shape wants its
      // lineage intact. PLANS.md r15 audit note carries the numbers.
      val e = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .crossJoin(fcs)
        .select(col("vec_id"), col("label"), col("embedding"),
          SimilarityFitted.cellOfArr(col("embedding"), col("cs"))
            .as("cell"),
          norm2(col("embedding")).as("n2"))
      val anc = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull && col("vec_id") % 20 === 0)
        .crossJoin(fcs)
        .select(col("vec_id").as("aid"), col("label").as("albl"),
          col("embedding").as("av"), norm2(col("embedding")).as("an2"),
          SimilarityFitted.probeCellsArr(col("embedding"), col("cs"))
            .as("pcells"))
      val cand = e.select(col("vec_id"), col("label"),
        col("embedding"), col("cell"), col("n2"))
      // Per-anchor argmax as an AGGREGATE, not a window (r13): a
      // row_number window ships every candidate pair to its anchor's
      // partition before ranking, so the shuffle was candidate-sized
      // (and the exact label-blocked positive side's candidates are
      // anchors × class — quadratic on this fixed-label fixture, the
      // 17.5× SCALING hop). max over (sim, −vec_id) structs is
      // associative, so map-side partials reduce the exchange to one
      // row per (anchor, partition) — anchor-bounded bytes, identical
      // values and tie rule (max sim, tie → min vec_id; sims are never
      // NaN/−0.0 per the DecimalDot contract, so struct-max ordering
      // equals the window's sort).
      def pick(df: DataFrame, simName: String, idName: String) =
        df.groupBy("aid")
          .agg(max(struct(col(simName), (-col("vec_id")).as("nv")))
            .as("b"))
          .select(col("aid"), (-col("b.nv")).as(idName),
            col("b").getField(simName).as(simName))
      val pos = pick(
        anc.join(cand,
            col("label") === col("albl") && col("vec_id") =!= col("aid"))
          .withColumn("pos_sim", cosineWithNorms(col("av"),
            col("embedding"), col("an2"), col("n2"))),
        "pos_sim", "pos_id")
      val neg = pick(
        anc.withColumn("pc", explode(col("pcells")))
          .join(cand,
            col("cell") === col("pc") && col("label") =!= col("albl"))
          .withColumn("neg_sim", cosineWithNorms(col("av"),
            col("embedding"), col("an2"), col("n2"))),
        "neg_sim", "neg_id")
      pos.join(neg, "aid")
        .select(col("aid").as("anchor_id"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"),
          (col("pos_sim") - col("neg_sim")).as("margin"))
        .orderBy("anchor_id")
    },

    // Margin-based bitext mining (Artetxe & Schwenk 2019 — the scoring
    // rule behind the CCMatrix/WikiMatrix parallel-corpus
    // pipelines): across two corpus sides (label 0 → label 1 as
    // the two languages), a candidate pair's raw cosine is normalized
    // by its NEIGHBORHOODS — margin = cos(x,y) / (½·(avg_k cos(x,NNᵏ_B)
    // + avg_k cos(y,NNᵏ_A))) — which suppresses hubs (vectors close to
    // everything) that a raw-cosine threshold would mis-mine. Emitted:
    // each source vector's best-margin target plus the MUTUAL flag
    // (x is also y's best source — the high-precision filter).
    //
    // Scale (r12 verdict item 1 — the registry's last fixed-cell gate,
    // re-platformed): cross-side candidates come from the FITTED
    // occupancy-scaled IVF index (SimilarityFitted.fittedCsBitext — one
    // Lloyd-fitted cell space over the UNION of the sides, cells =
    // n/32), probed in BOTH directions, so candidates are
    // |side| × nProbe × occupancy — input-LINEAR where the fixed
    // 8-cell gate's per-cell pair space grew quadratically (SCALING.md
    // r12 measured 13.5× on the 4×-row hop). At fixture sizes the gate
    // sits in its SMALL-n cap regime (nProbe=8 ≥ cells ⇒ candidates ≈
    // the full cross, so the fixture hop ratios still read near-
    // quadratic); past ~nProbe × occupancy = 256 rows/side the linear
    // term takes over — ScaleSpec pins a synthetic 10× linear-regime
    // hop. The k-NN denominators are windowed top-4 averages over the
    // same candidates (exact DECIMAL(30,12) sums — order-free); the
    // DuckDB twin replays the Lloyd fit CTE-by-CTE, so the mined pair
    // set replays exactly.
    Decl("sim_bitext_mine", {
      val cosXY = sqlCosList("a.embedding", "b.embedding")
      Seq(
        s"WITH ${SimilarityFitted.fittedCtes(" AND label IN (0, 1)")}",
        "ep AS (SELECT em.vec_id, em.label, em.embedding, " +
          s"${SimilarityFitted.pcellsSqlOf("em.embedding")} AS pcells " +
          "FROM embeddings em " +
          "WHERE em.embedding IS NOT NULL AND em.label IN (0, 1))",
        "e AS (SELECT vec_id, label, embedding, pcells, " +
          "pcells[1] AS cell FROM ep)",
        "a AS (SELECT * FROM e WHERE label = 0)",
        "b AS (SELECT * FROM e WHERE label = 1)",
        "cand AS MATERIALIZED (" +
          "SELECT DISTINCT xid, yid FROM (" +
          "SELECT a.vec_id AS xid, b.vec_id AS yid " +
          "FROM a, UNNEST(a.pcells) AS u(pc) JOIN b ON b.cell = u.pc " +
          "UNION ALL " +
          "SELECT a.vec_id, b.vec_id " +
          "FROM b, UNNEST(b.pcells) AS v(pc) JOIN a ON a.cell = v.pc))",
        "cosm AS MATERIALIZED (" +
          s"SELECT xid, yid, $cosXY AS c " +
          "FROM cand JOIN a ON a.vec_id = xid JOIN b ON b.vec_id = yid)",
        "fk AS (SELECT xid, c FROM cosm QUALIFY row_number() OVER (" +
          "PARTITION BY xid ORDER BY c DESC, yid) <= 4)",
        "fden AS MATERIALIZED (SELECT xid, " +
          "CAST(CAST(SUM(CAST(CAST(c AS VARCHAR) " +
          "AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS dx " +
          "FROM fk GROUP BY xid)",
        "bk AS (SELECT yid, c FROM cosm QUALIFY row_number() OVER (" +
          "PARTITION BY yid ORDER BY c DESC, xid) <= 4)",
        "bden AS MATERIALIZED (SELECT yid, " +
          "CAST(CAST(SUM(CAST(CAST(c AS VARCHAR) " +
          "AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS dy " +
          "FROM bk GROUP BY yid)",
        "marg AS MATERIALIZED (" +
          "SELECT xid, yid, c, c / (0.5 * (dx + dy)) AS margin " +
          "FROM cosm JOIN fden USING (xid) JOIN bden USING (yid))",
        "fwd AS (SELECT xid, yid, c, margin FROM marg " +
          "QUALIFY row_number() OVER (PARTITION BY xid " +
          "ORDER BY margin DESC, yid) = 1)",
        "bwd AS (SELECT xid AS bx, yid AS byid FROM marg " +
          "QUALIFY row_number() OVER (PARTITION BY yid " +
          "ORDER BY margin DESC, xid) = 1)"
      ).mkString(",\n") + "\n" +
        "SELECT f.xid AS src_id, f.yid AS tgt_id, f.c AS cos_sim, " +
        "f.margin AS margin, " +
        "CASE WHEN bwd.bx IS NOT NULL THEN 1 ELSE 0 END AS mutual " +
        "FROM fwd f LEFT JOIN bwd " +
        "ON bwd.bx = f.xid AND bwd.byid = f.yid " +
        "ORDER BY src_id"
    }) { (s, d) =>
      import graft.functions.VectorOps.cosineWithNorms
      val (aS, bS, cand) = bitextSidesAndCandidates(s, d)
      val cosm = cand
        .join(aS.select(col("vec_id").as("xid"), col("embedding").as("xe"),
          col("n2").as("xn2")), "xid")
        .join(bS.select(col("vec_id").as("yid"), col("embedding").as("ye"),
          col("n2").as("yn2")), "yid")
        .select(col("xid"), col("yid"),
          cosineWithNorms(col("xe"), col("ye"), col("xn2"), col("yn2"))
            .as("c"))
        .localCheckpoint(false) // feeds both denominators + the margin
      def den(key: String, tie: String, out: String) = {
        val w = Window.partitionBy(key).orderBy(col("c").desc, col(tie))
        cosm.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
          .groupBy(key)
          .agg((sum(col("c").cast(DecimalType(30, 12))).cast(DoubleType) /
            count(lit(1))).as(out))
      }
      val marg = cosm
        .join(den("xid", "yid", "dx"), "xid")
        .join(den("yid", "xid", "dy"), "yid")
        .select(col("xid"), col("yid"), col("c"),
          (col("c") / (lit(0.5) * (col("dx") + col("dy")))).as("margin"))
        .localCheckpoint(false) // forward + backward best both read it
      val wf = Window.partitionBy("xid").orderBy(col("margin").desc, col("yid"))
      val fwd = marg.withColumn("rn", row_number().over(wf))
        .filter(col("rn") === 1).drop("rn")
      val wb = Window.partitionBy("yid").orderBy(col("margin").desc, col("xid"))
      val bwd = marg.withColumn("rn", row_number().over(wb))
        .filter(col("rn") === 1)
        .select(col("xid").as("bx"), col("yid").as("byid"))
      fwd.join(bwd,
          col("bx") === col("xid") && col("byid") === col("yid"), "left")
        .select(col("xid").as("src_id"), col("yid").as("tgt_id"),
          col("c").as("cos_sim"), col("margin"),
          when(col("bx").isNotNull, 1).otherwise(0).as("mutual"))
        .orderBy("src_id")
    }
  )
}
