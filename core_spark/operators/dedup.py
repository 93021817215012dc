"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, each a first-class operator with a Spark plan designed
for 10^12 documents and (where SQL-expressible) a DuckDB oracle emission:

  exact        md5 grouping — one shuffle on a 60-bit key, no skew (hash keys
               are uniform by construction)
  ngram        word n-gram Jaccard over candidate pairs that share a shingle
               (inverted-index join; never the quadratic cross join)
  minhash_lsh  banded MinHash — the scale path: signature cost O(doc_len),
               candidate generation via equi-join on band keys
  simhash      64-bit SimHash in one numpy pandas-UDF stage; Hamming
               candidate pairs via 4-band exact-match blocking (any pair with
               Hamming distance <= 3 shares at least one of 4 16-bit bands —
               pigeonhole)
  embedding    cosine near-dup over quantized vectors: integer dot
               products via F.aggregate/zip_with (no Python in the hot path)

Hash portability: every hash the oracle must reproduce is md5-derived
(md5 -> first 15 hex digits -> BIGINT), identical in Spark and DuckDB —
never xxhash64/hash(), which differ per engine. The per-engine dialects live
in functions/textstats.py (spark_fingerprint / duck_fingerprint).

Reference analog: dedup did not exist in specvital/core, but its set-diff
snapshot machinery (tests/integration/snapshot.go:244-264, SURVEY.md J3/J4)
is the same exceptAll/anti-join shape used here for keep/drop splits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from core_spark.functions.textstats import duck_fingerprint, spark_fingerprint
from core_spark.plans.materialize import pin

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Keep the lowest-id representative per identical text.

    One hash-aggregate shuffle on the fingerprint; group sizes are bounded by
    true duplicate multiplicity, so no salting is needed (a pathological
    mega-duplicate still aggregates map-side first).
    """
    from pyspark.sql import functions as F

    fp = F.expr(spark_fingerprint(text_col))
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_fp")
    )


def sql_exact_dedup(docs_table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB oracle for exact_dedup (same grouping, same representative)."""
    return f"""
SELECT MIN({id_col}) AS {id_col}, COUNT(*) AS dup_count
FROM {docs_table}
GROUP BY {duck_fingerprint(text_col)}
"""


# ---------------------------------------------------------------------------
# Word shingles (shared by ngram + minhash)
# ---------------------------------------------------------------------------


def _flit(x: float) -> str:
    """Exponent-form DOUBLE literal — lexed directly as DOUBLE by both
    engines (bare decimals are lexed as DECIMAL and DuckDB's
    decimal->double conversion can be 1 ulp off; see hexgrid._lit)."""
    return f"CAST({float(x):.17e} AS DOUBLE)"

def spark_shingles(text_col: str, k: int) -> str:
    """Spark expr: array of word k-gram strings (distinct, order-free).

    Pure higher-order functions (split/transform/slice/array_distinct) —
    JVM-side, no UDF.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    return (
        f"array_distinct(CASE WHEN size({toks}) < {k} "
        f"THEN array(concat_ws(' ', {toks})) "
        f"ELSE transform(sequence(1, size({toks}) - {k} + 1), "
        f"i -> concat_ws(' ', slice({toks}, i, {k}))) END)"
    )


def spark_hashed_shingles(text_col: str, k: int) -> str:
    """Spark expr: distinct word k-grams hashed to 60-bit md5-derived BIGINTs.

    Long comparisons make the inverted-index join key, the shuffle payload,
    and the verify-stage array_intersect ~5x cheaper than 20-40 byte shingle
    strings, and the hash is the engine-portable md5 recipe (identical in
    DuckDB), so oracles reproduce it bit-for-bit. 60-bit collisions
    (~n^2/2^61) are negligible and — because both engines hash identically —
    could never cause a Spark/oracle mismatch.
    """
    h = "CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)"
    return (
        f"array_distinct(transform({spark_shingles(text_col, k)}, x -> {h}))"
    )


def duck_hashed_shingles(text_col: str, k: int) -> str:
    """DuckDB twin of spark_hashed_shingles (same md5 arithmetic)."""
    toks = f"string_split_regex(trim({text_col}), '\\s+')"
    strings = (
        f"CASE WHEN len({toks}) < {k} THEN [array_to_string({toks}, ' ')] "
        f"ELSE list_distinct([array_to_string({toks}[i:i+{k}-1], ' ') "
        f"for i in range(1, len({toks}) - {k} + 2)]) END"
    )
    return (
        f"list_distinct([('0x' || substr(md5(x), 1, 15))::BIGINT "
        f"for x in {strings}])"
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard dedup (inverted-index candidate join)
# ---------------------------------------------------------------------------

def lsh_recall_bound(threshold: float, bands: int, rows: int) -> float:
    """P(a pair with Jaccard exactly ``threshold`` becomes a candidate)
    under banded MinHash: ``1 - (1 - t^r)^b``. Pairs ABOVE the threshold
    collide with strictly higher probability, so this is the recall floor
    of the ``lsh_verified`` route at the decision boundary."""
    return 1.0 - (1.0 - threshold ** rows) ** bands


def lsh_params_for_threshold(
    threshold: float, target_recall: float = 0.9, max_bands: int = 32
) -> tuple[int, int]:
    """(rows_per_band, bands) whose recall floor at ``threshold`` is >=
    ``target_recall``, preferring the LARGEST feasible rows-per-band
    (fewer false candidates — the verify stage's cost driver) subject to
    ``bands <= max_bands`` (signature width = rows*bands stays bounded)."""
    import math

    need = math.log(1.0 - target_recall)
    for rows in range(8, 1, -1):
        p = threshold ** rows
        if p >= 1.0:
            return rows, 1
        bands = math.ceil(need / math.log(1.0 - p))
        if bands <= max_bands:
            return rows, bands
    # rows=1 always feasible: 1-(1-t)^b reaches any recall
    return 1, min(max_bands, math.ceil(need / math.log(1.0 - threshold)))


#: ``auto`` routes to the exact AllPairs plan at or above this threshold
#: and to MinHash-LSH + exact verify below it (VERDICT r4: at low
#: thresholds the AllPairs prefix is >half of every set, so the exact
#: plan degrades toward quadratic — nobody runs exact Jaccard at t=0.4
#: over 10^12 docs; the scale answer is approximate candidates + exact
#: verification).
NGRAM_ROUTE_THRESHOLD = 0.7


def ngram_jaccard_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, threshold: float = 0.8,
                        mode: str = "auto", target_recall: float = 0.9):
    """Pairs (id_a < id_b, jaccard) with word-k-gram Jaccard >= threshold.

    ``mode``:

    - ``"exact"`` — the AllPairs/PPJoin plan below: zero false negatives
      at any threshold, but at t < ~0.7 the prefix index holds more than
      half of every set, so candidate volume (and the oracled
      ``dedup_ngram`` query, which pins this mode) grows toward
      quadratic. Right answer for high thresholds and audits.
    - ``"lsh_verified"`` — banded MinHash candidates
      (``lsh_params_for_threshold``: recall floor >= ``target_recall``
      at the threshold, stated by ``lsh_recall_bound``) + the SAME exact
      Jaccard verification. Every emitted pair is exact (no false
      positives ever); recall is the stated bound. The 100-TB path for
      low thresholds.
    - ``"auto"`` (default) — ``exact`` at threshold >=
      ``NGRAM_ROUTE_THRESHOLD``, else ``lsh_verified``.

    The exact plan — AllPairs/PPJoin-style (filters prune candidates,
    never answers), over 60-bit hashed shingles (spark_hashed_shingles —
    cheap long keys everywhere, engine-portable md5):

      1. inverted index over each doc's PREFIX only: order shingles by
         global rarity (df asc, hash asc — one canonical order for the
         whole corpus) and keep the first |A| - ceil(t*|A|) + 1. Any pair
         with J >= t shares >= ceil(t*max(|A|,|B|)) shingles, which cannot
         all hide in either suffix, so both prefixes must collide.
      2. size filter on colliding pairs: J >= t forces t*|A| <= |B| <= |A|/t.
      3. positional filter (PPJoin): at the pair's first shared prefix
         position (p_a, p_b), overlap <= 1 + min(|A|-p_a, |B|-p_b); require
         that to reach ceil(t/(1+t) * (|A|+|B|)). The first-collision row
         always passes for a true pair, so distinct-after-filter is exact.
      4. exact verify on the FULL hashed sets (array_intersect/union, JVM).

    The join shuffle key is the prefix shingle — by construction the rarest
    of each doc (a stopword mega-shingle enters a prefix only when a doc has
    nothing rarer), so posting lists stay short without the lossy df cap the
    first version used. Run exact_dedup first at scale: identical boilerplate
    docs would otherwise all share the same 'rare' prefix.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if mode == "auto":
        mode = "exact" if threshold >= NGRAM_ROUTE_THRESHOLD else "lsh_verified"
    if mode not in ("exact", "lsh_verified"):
        raise ValueError(f"mode={mode!r}: expected exact|lsh_verified|auto")

    # materialize the hashed-set table ONCE: the tokenize+md5 pass is the
    # single most expensive expression in the pipeline and three branches
    # need it (document frequencies, the prefix index, and the final exact
    # verify) — without the checkpoint each branch recomputes it from the
    # scan. The payload is one long array per doc, far smaller than the
    # text it replaces.
    sets = df.select(
        F.col(id_col), F.expr(spark_hashed_shingles(text_col, k)).alias("_shs")
    ).transform(pin)

    if mode == "lsh_verified":
        rows, bands = lsh_params_for_threshold(threshold, target_recall)
        cand = minhash_lsh_pairs(
            df, text_col=text_col, id_col=id_col, k=k,
            n_perm=rows * bands, bands=bands, hashed_sets=sets,
        )
        return verify_pairs_jaccard(
            cand, df, text_col=text_col, id_col=id_col, k=k,
            threshold=threshold, hashed_sets=sets,
        )
    # set size BEFORE exploding so it rides along with every posting row
    sh = sets.select(
        F.col(id_col), F.size("_shs").alias("sz"), F.explode("_shs").alias("h")
    )
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df_"))
    w = Window.partitionBy(id_col).orderBy(F.col("df_").asc(), F.col("h").asc())
    # eager checkpoint: the prefix index feeds BOTH sides of the self-join
    # (and each branch of a Spark self-join recomputes its input), so
    # materializing it once halves the tokenize+hash+window work — the
    # standard persist-the-index step of any AllPairs implementation;
    # at scale this is O(corpus tokens), the same order as the shuffle
    prefix = (
        sh.join(dfreq, "h")
        .withColumn("p", F.row_number().over(w))
        .filter(
            F.col("p")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + F.lit(1)
        )
        .select(id_col, "sz", "h", "p")
        .transform(pin)
    )
    alpha = F.ceil(
        F.lit(threshold) / (F.lit(1.0) + F.lit(threshold))
        * (F.col("a.sz") + F.col("b.sz"))
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.p"), F.col("b.sz") - F.col("b.p")
                )
                >= alpha
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return verify_pairs_jaccard(cand, df, text_col=text_col, id_col=id_col,
                                k=k, threshold=threshold, hashed_sets=sets)


def sql_ngram_jaccard_pairs(docs_table: str, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            threshold: float = 0.8) -> str:
    """DuckDB oracle: the same prefix + positional + size filter and
    exact-verify plan in SQL, over the identical md5-hashed shingles.

    The filters are exact (candidate pruning only, final jaccard computed on
    the full hashed sets), so this matches the Spark plan bit-for-bit: the
    prefix/size/positional arithmetic uses identical IEEE double literals on
    both engines, and int/int division yields DOUBLE in both dialects.
    """
    hashed = duck_hashed_shingles(text_col, k)
    return f"""
WITH sets AS (SELECT {id_col}, {hashed} AS shs FROM {docs_table}),
sh AS (SELECT {id_col}, len(shs) AS sz, unnest(shs) AS h FROM sets),
dfreq AS (SELECT h, COUNT(*) AS df_ FROM sh GROUP BY h),
prefix AS (
  SELECT {id_col}, sz, h, p FROM (
    SELECT sh.{id_col}, sh.sz, sh.h,
           ROW_NUMBER() OVER (PARTITION BY sh.{id_col}
                              ORDER BY df_ ASC, sh.h ASC) AS p
    FROM sh JOIN dfreq USING (h)
  ) WHERE p <= sz - CEIL({_flit(threshold)} * sz) + 1
),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM prefix a JOIN prefix b
    ON a.h = b.h AND a.{id_col} < b.{id_col}
   AND b.sz >= {_flit(threshold)} * a.sz AND a.sz >= {_flit(threshold)} * b.sz
   AND 1 + LEAST(a.sz - a.p, b.sz - b.p)
       >= CEIL({_flit(threshold)} / (1.0 + {_flit(threshold)}) * (a.sz + b.sz))
)
SELECT id_a, id_b,
       len(list_intersect(sa.shs, sb.shs))
         / len(list_distinct(list_concat(sa.shs, sb.shs))) AS jaccard
FROM cand
JOIN sets sa ON sa.{id_col} = id_a
JOIN sets sb ON sb.{id_col} = id_b
WHERE len(list_intersect(sa.shs, sb.shs))
        / len(list_distinct(list_concat(sa.shs, sb.shs))) >= {_flit(threshold)}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MH_MOD = 2147483647       # 2^31 - 1 (Mersenne prime)
_MH_BASE_MOD = 1073741824  # 2^30: keeps a*h < 2^60, BIGINT-overflow-safe


def _mh_consts(perm: int) -> tuple[int, int]:
    """Deterministic affine-permutation constants (a odd => injective mod
    2^30; Knuth multiplicative-hash multipliers, no runtime randomness)."""
    a = ((2654435761 * (perm + 1)) % _MH_BASE_MOD) | 1
    b = (40503 * (perm + 1) + 2654435769 * perm) % _MH_MOD
    return a, b


def _spark_minhash_sig(hashed_col: str, perm: int) -> str:
    """One MinHash signature value: min over the doc's 60-bit hashed
    shingles of an affine permutation (a*h + b) mod p.

    ONE md5 per shingle total (the shared ``spark_hashed_shingles``
    emission), vs the former scheme's one md5 per shingle PER PERMUTATION
    — an n_perm-fold reduction of the dominant signature cost. References
    an already-materialized hashed-shingle array column — computing the
    array inline would be re-evaluated once per permutation (Catalyst
    duplicates collapsed projections; the hexgrid stepwise-emission
    lesson, measured 69s -> ~9s at sf0.1).
    """
    a, b = _mh_consts(perm)
    return (
        f"array_min(transform({hashed_col}, "
        f"h -> ({a} * (h % {_MH_BASE_MOD}) + {b}) % {_MH_MOD}))"
    )


def minhash_lsh_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, n_perm: int = 12, bands: int = 4,
                      hashed_sets=None):
    """Candidate near-dup pairs via banded MinHash LSH.

    n_perm signatures in ``bands`` bands of r = n_perm/bands rows; documents
    agreeing on ALL r signatures of any band become a candidate pair
    (collision probability ~ 1-(1-j^r)^b). Signature computation is one
    narrow projection (no shuffle); candidates come from ``bands``
    equi-joins on (band, key) — uniform md5 keys, no skew.

    Returns DISTINCT (id_a < id_b) candidate pairs; callers refine with
    ngram_jaccard or exact comparison (two-phase: cheap-filter-then-verify,
    the reference's detection-cascade discipline).

    ``hashed_sets``: optional pre-materialized (id_col, _shs) table (same k
    and hashing as verify_pairs_jaccard) — candidate+verify pipelines then
    pay the md5 tokenize pass ONCE for both stages.
    """
    from pyspark.sql import functions as F

    r = n_perm // bands
    assert bands * r == n_perm
    if hashed_sets is not None:
        base = hashed_sets.select(F.col(id_col), F.col("_shs").alias("_shh"))
    else:
        base = df.select(
            F.col(id_col),
            F.expr(spark_hashed_shingles(text_col, k)).alias("_shh"),
        )
    sigs = (
        base.select(
            F.col(id_col),
            *[F.expr(_spark_minhash_sig("_shh", p)).alias(f"mh{p}") for p in range(n_perm)],
        )
    )
    band_keys = sigs.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws("_", *[F.col(f"mh{b * r + i}") for i in range(r)]).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # eager checkpoint: the banded equi-join references band_keys on BOTH
    # sides, and each side of a Spark self-join recomputes its input — i.e.
    # the whole tokenize + n_perm-signature pipeline would run twice. The
    # materialized table is tiny (bands rows of (id, band, key) per doc).
    band_keys = band_keys.transform(pin)

    a = band_keys.alias("a")
    b = band_keys.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def sql_minhash_lsh_pairs(docs_table: str, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 3,
                          n_perm: int = 12, bands: int = 4) -> str:
    """DuckDB oracle: same signatures (identical md5 + affine arithmetic,
    all in nonnegative BIGINT range so %% agrees across engines), same
    bands."""
    r = n_perm // bands

    def _sig(p: int) -> str:
        a, b = _mh_consts(p)
        return (
            f"list_min([({a} * (h % {_MH_BASE_MOD}) + {b}) % {_MH_MOD} "
            f"for h in hs]) AS mh{p}"
        )

    sig_cols = ", ".join(_sig(p) for p in range(n_perm))
    band_selects = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        + " || '_' || ".join(f"CAST(mh{b * r + i} AS VARCHAR)" for i in range(r))
        + " AS key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH hsets AS (SELECT {id_col}, {duck_hashed_shingles(text_col, k)} AS hs FROM {docs_table}),
sigs AS (SELECT {id_col}, {sig_cols} FROM hsets),
bk AS ({band_selects})
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
FROM bk a JOIN bk b
  ON a.band = b.band AND a.key = b.key AND a.{id_col} < b.{id_col}
"""


def verify_pairs_jaccard(pairs, docs, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3,
                         threshold: float = 0.8, hashed_sets=None):
    """Exact-verify candidate pairs: word-k-gram Jaccard computed ONLY for
    the candidates (array_intersect/array_union — JVM-side, over 60-bit
    hashed shingles for cheap long comparisons), keep pairs at or above
    threshold. The cheap-filter-then-verify discipline: LSH proposes, exact
    math disposes (reference analog: detection cascade's
    cheap-predicate-first, SURVEY §4).

    ``hashed_sets``: optional pre-materialized (id_col, _shs) table (same k
    and hashing) so callers that already built it — ngram_jaccard_pairs'
    prefix index — skip a full re-tokenize of the corpus here."""
    from pyspark.sql import functions as F

    if hashed_sets is not None:
        sh = hashed_sets.select(F.col(id_col), F.col("_shs").alias("_sh"))
    else:
        # checkpoint: the hashed-set table feeds both sides of the pair join
        sh = docs.select(
            F.col(id_col), F.expr(spark_hashed_shingles(text_col, k)).alias("_sh")
        ).transform(pin)
    a = sh.selectExpr(f"{id_col} AS id_a", "_sh AS sh_a")
    b = sh.selectExpr(f"{id_col} AS id_b", "_sh AS sh_b")
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs -> cluster representatives
# ---------------------------------------------------------------------------

def _large_star(edges):
    """Large-star step (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): for every node u, connect all strictly larger neighbors to
    m = min(N(u) ∪ {u}). Output edges always satisfy src > dst."""
    from pyspark.sql import functions as F

    sym = edges.union(edges.selectExpr("dst AS src", "src AS dst"))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("_mn", "src").alias("m"))
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .selectExpr("dst AS src", "m AS dst")
        .distinct()
    )


def _small_star(edges):
    """Small-star step: orient edges toward the larger endpoint, then for
    every node u connect u and all its smaller neighbors to their minimum."""
    from pyspark.sql import functions as F

    oriented = edges.selectExpr(
        "greatest(src, dst) AS src", "least(src, dst) AS dst"
    ).filter("src <> dst")
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(mins, "src")
    return (
        joined.filter(F.col("dst") != F.col("m"))
        .selectExpr("dst AS src", "m AS dst")
        .union(mins.selectExpr("src", "m AS dst"))
        .distinct()
    )


def connected_components(pairs, id_a: str = "id_a", id_b: str = "id_b",
                         max_iter: int = 12):
    """Cluster the near-dup pair graph: (node, component) with component =
    min node id reachable, via alternating large-star/small-star contraction
    (Kiveris et al.) — O(log n) rounds instead of the O(diameter) of naive
    min-label propagation, the difference between 3 and 20 shuffled
    iterations on chain-shaped dup graphs.

    Each round is one large-star + one small-star (two groupBy-min shuffles
    on uniform node ids) followed by an eager pin() that cuts
    lineage AND materializes the round, so the convergence probe is a
    single cheap single-row aggregate over already-computed partitions (no
    separate join+count job). Convergence = the edge multiset's signature
    (count, sum(src), sum(dst), sum(xxhash64(src, dst))) repeating — the
    xxhash64 term makes a false fixpoint a ~2^-64 event, and the whole
    check is deterministic (no RNG), so resume under the manifest replays
    identically.
    """
    from pyspark.sql import functions as F

    # eager checkpoint the SEED edges: the star steps reference their input
    # twice (symmetrize-union), which would recompute the whole upstream
    # candidate+verify pipeline once per branch in round 1
    edges = (
        pairs.selectExpr(f"{id_a} AS src", f"{id_b} AS dst")
        .filter("src <> dst")
        .distinct()
        .transform(pin)
    )
    prev_sig = None
    converged = False
    # max_iter + 1: convergence needs one CONFIRMING round after the last
    # productive one (sig == prev_sig), so a graph that reaches the star
    # fixpoint exactly at round max_iter must not be reported unconverged
    for _ in range(max_iter + 1):
        edges = pin(_small_star(_large_star(edges)))
        # decimal(38,0) sums: BIGINT would overflow under ANSI mode
        sig = tuple(
            edges.agg(
                F.count("*"),
                F.sum(F.col("src").cast("decimal(38,0)")),
                F.sum(F.col("dst").cast("decimal(38,0)")),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # the labeling below is only correct at the star fixpoint —
        # surface non-convergence instead of silently under-merging
        # (Kiveris et al. prove O(log^2 n) rounds w.h.p.; 12 covers any
        # realistic graph, so hitting this means something is wrong)
        raise RuntimeError(
            f"connected_components did not reach the star fixpoint within "
            f"{max_iter} rounds; raise max_iter"
        )
    # fixpoint edges are stars (v, component_min); the min itself only
    # appears as dst, so label it with itself
    return (
        edges.selectExpr("src AS node", "dst AS component")
        .union(edges.selectExpr("dst AS node", "dst AS component"))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def sql_dedup_cluster(docs_table: str, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      n_perm: int = 8, bands: int = 4,
                      threshold: float = 0.5) -> str:
    """DuckDB oracle for the full clustering pipeline: minhash candidates ->
    hashed-shingle exact-jaccard verify -> connected components via a
    RECURSIVE transitive-closure CTE (min reachable label) -> kept
    representative set. An independent plan for the same deterministic
    answer: Spark runs alternating star contraction, the oracle runs
    closure + GROUP BY MIN — agreement gates both."""
    cand = sql_minhash_lsh_pairs(docs_table, text_col, id_col, k=k,
                                 n_perm=n_perm, bands=bands)
    hashed = duck_hashed_shingles(text_col, k)
    jac = (
        "len(list_intersect(sa.shs, sb.shs))"
        " / len(list_distinct(list_concat(sa.shs, sb.shs)))"
    )
    return f"""
WITH RECURSIVE cand AS ({cand}),
sets AS (SELECT {id_col}, {hashed} AS shs FROM {docs_table}),
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sets sa ON sa.{id_col} = id_a
  JOIN sets sb ON sb.{id_col} = id_b
  WHERE {jac} >= {_flit(threshold)}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
),
labels AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
SELECT {id_col} FROM {docs_table}
WHERE {id_col} NOT IN (SELECT node FROM labels WHERE node <> comp)
"""


def dedup_keep_representatives(df, pairs, id_col: str = "doc_id"):
    """Drop every near-dup except the min-id representative per component.

    Documents that appear in no pair are kept (left-anti on the drop set).
    """
    comp = connected_components(pairs)
    drop = comp.filter("node <> component").selectExpr(f"node AS {id_col}")
    return df.join(drop, id_col, "left_anti")


def dedup_keep_best(df, pairs, score_expr: str, id_col: str = "doc_id"):
    """Quality-aware near-dup collapse: per component keep the member
    with the HIGHEST ``score_expr`` (ties -> lowest id) instead of the
    lowest id — the policy real pipelines use (keep the longest or
    best-quality copy of a boilerplate family; Lee et al. keep one
    arbitrary member, production curation keeps the best one).

    Same shuffle shape as ``dedup_keep_representatives`` plus one
    component-keyed argmax: the winner is ``min(struct(-score, id))``
    (lexicographic struct min = max score then min id, identical on
    both engines — the paradedup winner pattern). ``score_expr`` is any
    portable SQL expression over ``df``'s columns (``length(text)``,
    a precomputed quality column, ...). Docs in no pair are kept.
    """
    from pyspark.sql import functions as F

    comp = connected_components(pairs)
    # members feeds BOTH the winner aggregate and the drop join (branch
    # re-evaluation would re-run the component join + doc scan twice)
    members = pin(
        comp.join(
            df.selectExpr(f"{id_col} AS node", f"({score_expr}) AS _s"),
            "node",
        ).selectExpr("node", "component", "named_struct('n', -_s, 'node', node) AS _key")
    )
    winners = members.groupBy("component").agg(F.min("_key").alias("_w"))
    drop = (
        members.join(winners, "component")
        .filter(F.col("_key") != F.col("_w"))
        .selectExpr(f"node AS {id_col}")
    )
    return df.join(drop, id_col, "left_anti")


def sql_dedup_keep_best(docs_table: str, score_expr: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, n_perm: int = 8, bands: int = 4,
                        threshold: float = 0.5) -> str:
    """DuckDB oracle twin of the minhash->verify->components->keep-best
    pipeline — independent plan (recursive transitive-closure CTE like
    sql_dedup_cluster, then an argmax via the same ROW(-score, id) min)."""
    cand = sql_minhash_lsh_pairs(docs_table, text_col, id_col, k=k,
                                 n_perm=n_perm, bands=bands)
    hashed = duck_hashed_shingles(text_col, k)
    jac = (
        "len(list_intersect(sa.shs, sb.shs))"
        " / len(list_distinct(list_concat(sa.shs, sb.shs)))"
    )
    return f"""
WITH RECURSIVE cand AS ({cand}),
sets AS (SELECT {id_col}, {hashed} AS shs FROM {docs_table}),
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sets sa ON sa.{id_col} = id_a
  JOIN sets sb ON sb.{id_col} = id_b
  WHERE {jac} >= {_flit(threshold)}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
),
labels AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
scored AS (
  SELECT l.node, l.comp, ROW(-({score_expr}), l.node) AS key_
  FROM labels l JOIN {docs_table} d ON d.{id_col} = l.node
),
winners AS (SELECT comp, MIN(key_) AS w FROM scored GROUP BY comp)
SELECT {id_col} FROM {docs_table}
WHERE {id_col} NOT IN (
  SELECT node FROM scored JOIN winners USING (comp) WHERE key_ <> w)
"""


# ---------------------------------------------------------------------------
# SimHash (64-bit, numpy UDF stage) + Hamming blocking
# ---------------------------------------------------------------------------

def simhash64(tokens: list[str]) -> int:
    """Pure kernel: 64-bit SimHash over token strings (md5-derived bits)."""
    import hashlib

    acc = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for t in tokens:
        h = np.uint64(
            int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        )
        bits = (h >> shifts) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out  # two's complement BIGINT


def simhash64_batch(texts) -> list[int | None]:
    """Vectorized SimHash over a batch of texts (same math as simhash64).

    Tokens are hashed ONCE per distinct token per batch (np.unique + gather
    — near-dup corpora share most tokens, so this alone is ~10x), and the
    per-token ±1 bit contributions are summed per document with a single
    np.add.reduceat over the whole batch — no per-token Python in the
    accumulation. Returns None for null texts, 0 for token-less texts
    (matching the scalar kernel).
    """
    import hashlib

    token_lists = [str(t).split() if t is not None else None for t in texts]
    flat: list[str] = []
    counts = []
    for tl in token_lists:
        if tl:
            flat.extend(tl)
            counts.append(len(tl))
        else:
            counts.append(0)
    out: list[int | None] = []
    if flat:
        uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
        hv = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
                for u in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        tok_h = hv[inv]
        shifts = np.arange(64, dtype=np.uint64)
        contrib = (
            ((tok_h[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1
        )
        offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
        nonzero = np.asarray(counts) > 0
        # reduceat needs nonempty segments; sum only real ones, gather back
        seg_starts = offsets[nonzero]
        sums = np.add.reduceat(contrib, seg_starts, axis=0)
        bits = sums > 0
        sig = np.zeros(len(seg_starts), dtype=np.uint64)
        for i in range(64):
            sig |= bits[:, i].astype(np.uint64) << np.uint64(i)
        signed = sig.view(np.int64)
        it = iter(signed.tolist())
    else:
        it = iter(())
    for tl in token_lists:
        if tl is None:
            out.append(None)
        elif not tl:
            out.append(0)
        else:
            out.append(next(it))
    return out


def with_simhash(df, text_col: str = "text", out_col: str = "simhash"):
    """Arrow-batched SimHash stage (the one Python stage in this module)."""
    import pandas as pd  # noqa: F811

    fields = ", ".join(f.name + " " + f.dataType.simpleString() for f in df.schema.fields)

    def run(batches):
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = pd.array(
                simhash64_batch(pdf[text_col].tolist()), dtype="Int64"
            )
            yield out

    return df.mapInPandas(run, fields + f", {out_col} bigint")


def sql_simhash_pairs(docs_table: str, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3) -> str:
    """DuckDB oracle for simhash candidates: an independent SQL
    reimplementation of simhash64 (md5-derived 64-bit token hashes — first
    16 hex chars as UBIGINT == first 8 digest bytes big-endian — strict
    majority vote per bit, two's-complement BIGINT) followed by brute-force
    all-pairs Hamming. Deliberately a DIFFERENT plan than Spark's banded
    blocking, which is guaranteed-complete only for max_hamming <= 3
    (4-band pigeonhole), so callers must not pass a larger radius when
    oracle-checking. Stepwise CTEs keep the generated SQL from inlining the
    token-hash list into all 128 bit terms (the hexgrid emission lesson)."""
    assert max_hamming <= 3, "banded blocking is only complete for <= 3 bits"
    # list_filter drops the empty tokens string_split_regex emits for
    # leading/trailing whitespace (trim() strips SPACES only — a tab- or
    # newline-edged doc would otherwise hash '' into the signature while
    # the Python kernel's str.split() never produces empties)
    toks = (
        f"list_filter(string_split_regex(trim({text_col}), '\\s+'),"
        f" t -> t <> '')"
    )
    hs = f"[('0x' || substr(md5(t), 1, 16))::UBIGINT for t in {toks}]"
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len([h for h in _hs if (h >> {b}) & 1 = 1]) > len(_hs) "
        f"THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return f"""
WITH hs AS (
  SELECT {id_col}, {hs} AS _hs
  FROM {docs_table}
  WHERE {text_col} IS NOT NULL AND trim({text_col}) <> ''
),
raw AS (SELECT {id_col}, _hs, ({bit_terms}) AS _sig FROM hs),
sigs AS (
  SELECT {id_col},
         CASE WHEN len(_hs) = 0 THEN 0
              WHEN _sig >= 9223372036854775808::HUGEINT
              THEN (_sig - 18446744073709551616::HUGEINT)::BIGINT
              ELSE _sig::BIGINT END AS simhash
  FROM raw
)
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def simhash_candidates(df, sim_col: str = "simhash", id_col: str = "doc_id",
                       max_hamming: int = 3):
    """Candidate pairs with Hamming(simhash) <= max_hamming via 4-band
    16-bit blocking (pigeonhole: <=3 differing bits leave >=1 of 4 bands
    identical), refined by an exact JVM popcount — bit_count is built-in."""
    from pyspark.sql import functions as F

    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.expr(f"shiftright({sim_col}, {i * 16}) & 65535").alias("key"),
        )
        for i in range(4)
    ]
    bk = df.select(id_col, sim_col, F.explode(F.array(*bands)).alias("bk")).select(
        id_col, sim_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # eager checkpoint: upstream of df is the numpy simhash Arrow stage —
    # without this, each side of the self-join runs that Python stage again
    bk = bk.transform(pin)
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(f"bit_count(a.{sim_col} ^ b.{sim_col})").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Cosine similarity (JVM dot product; no Python)
# ---------------------------------------------------------------------------

def sql_cosine(a: str, b: str) -> str:
    """Spark expr: cosine similarity of two array<float/double> columns via
    aggregate/zip_with — whole-stage codegen, no UDF."""
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    na = f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (s, v) -> s + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    nb = f"sqrt(aggregate({b}, CAST(0.0 AS DOUBLE), (s, v) -> s + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    return f"({dot} / ({na} * {nb}))"


# ---------------------------------------------------------------------------
# Embedding cosine near-dup, integer-exact oracled variant
# ---------------------------------------------------------------------------
#
# Float dot products are not bit-portable between Spark and DuckDB (summation
# order), so a float sketch could only be pytest-gated. This operator makes
# the WHOLE pipeline exact integer math:
#
#   1. quantize:  q_i = clamp(floor(x_i * 512), +-600)  — float->double->*2^k
#      ->floor is IEEE-exact, so both engines produce identical BIGINTs;
#   2. plant near-dups: a copy of every vector at id+COPY_OFFSET with
#      md5-derived noise in [-3, 3] per dim (generation-rule oracle pattern —
#      the raw embeddings table is random vectors with no near pairs);
#   3. sketch: sign bits of dot products against EMISSION-TIME literal +-1
#      hyperplanes (Charikar 2002 random-hyperplane LSH) — integer sums,
#      zero per-row hashing at scale;
#   4. candidates: equi-join on the full sketch (buckets are uniform:
#      ~n^2/2^n_planes pairs reach the verify stage, never all-pairs);
#   5. verify: cosine >= sqrt(T_NUM/T_DEN) decided by the cross-multiplied
#      integer test  dot>0 AND T_DEN*dot^2 >= T_NUM*|a|^2*|b|^2  — with
#      |q_i| <= 603 and dim 64, T_DEN*dot^2 <= 50*(64*603^2)^2 ~ 2.7e16,
#      comfortably inside BIGINT, and every compared column is exact.
#
# Reference analog: none (specvital/core has no vector subsystem); the
# cheap-blocking-then-exact-verify discipline mirrors minhash_lsh_pairs.

EMB_SCALE = 512.0       # power of two: float*scale is IEEE-exact
EMB_CLAMP = 600         # quantized values clamped to +-600 (overflow headroom)
EMB_NOISE_MOD = 7       # planted noise: md5 % 7 - 3 in [-3, 3]
EMB_COPY_OFFSET = 1_000_000
EMB_T_NUM, EMB_T_DEN = 49, 50   # threshold^2 = 49/50  (cosine ~ 0.98995)


def emb_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic +-1 hyperplanes, fixed at SQL-emission time (hashlib md5
    of 'pl_<p>_<i>' — identical every run, so resume/oracle-safe) and emitted
    as literal arrays into BOTH engines' SQL: no per-row hashing at scale."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"pl_{p}_{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _emb_quant(x: str) -> str:
    """Shared Spark/DuckDB scalar: clamp(floor(x*512), +-600) as BIGINT."""
    return (
        f"LEAST(GREATEST(CAST(FLOOR(CAST({x} AS DOUBLE) * {EMB_SCALE}) AS BIGINT), "
        f"CAST(-{EMB_CLAMP} AS BIGINT)), CAST({EMB_CLAMP} AS BIGINT))"
    )


def _emb_noise(id_col: str) -> str:
    """Shared md5-derived per-(id, dim) noise term in [-3, 3]; `HEXINT` is the
    per-engine 15-hex-digit->BIGINT cast spliced in by the callers."""
    return f"(HEXINT % {EMB_NOISE_MOD}) - {EMB_NOISE_MOD // 2}"


def embedding_dup_pairs_int(df, vec_col: str = "embedding", id_col: str = "vec_id",
                            dim: int = 64, n_planes: int = 8):
    """Integer-exact cosine near-dup pairs with planted duplicates.

    Input: a vectors table (id, array<float>). Output columns (all BIGINT,
    bit-portable): id_a, id_b, dot_q, na2, nb2 — the quantized dot product
    and squared norms of every same-sketch pair passing the threshold test.
    sql_embedding_dup_pairs emits the matching DuckDB plan.
    """
    from pyspark.sql import functions as F

    planes = emb_planes(n_planes, dim)
    clamp_q = _emb_quant("x")
    base = df.selectExpr(
        f"{id_col} AS id",
        f"transform(CAST({vec_col} AS array<double>), x -> {clamp_q}) AS qv",
    )
    hexint = (
        f"CAST(conv(substr(md5(concat(CAST({id_col} AS STRING), '_', "
        f"CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    noise = _emb_noise(id_col).replace("HEXINT", hexint)
    elem_q = _emb_quant(f"element_at(CAST({vec_col} AS array<double>), i)")
    noisy = df.selectExpr(
        f"{id_col} + {EMB_COPY_OFFSET} AS id",
        f"transform(sequence(1, {dim}), i -> {elem_q} + {noise}) AS qv",
    )
    uni = base.unionAll(noisy)

    # stepwise columns (CLAUDE.md invariant): one d<p> per plane, then the
    # sketch over plain column refs — never one fused mega-expression
    d_steps = {
        f"d{p}": F.expr(
            "aggregate(zip_with(qv, array("
            + ", ".join(f"{s}L" for s in planes[p])
            + "), (x, y) -> x * y), CAST(0 AS BIGINT), (s, v) -> s + v)"
        )
        for p in range(n_planes)
    }
    dd_df = uni.withColumns(
        {**d_steps,
         "na2": F.expr("aggregate(qv, CAST(0 AS BIGINT), (s, v) -> s + v * v)")}
    )
    sketch = " + ".join(
        f"(CASE WHEN d{p} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(n_planes)
    )
    sk = dd_df.selectExpr("id", "qv", "na2", f"{sketch} AS sketch")
    # eager checkpoint: the sketch table feeds both sides of the self-join
    # (self-join branches recompute their input plan)
    sk = sk.transform(pin)
    a, b = sk.alias("a"), sk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sketch") == F.col("b.sketch")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr(
                "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (s, v) -> s + v)"
            ).alias("dot_q"),
            F.col("a.na2").alias("na2"),
            F.col("b.na2").alias("nb2"),
        )
        .filter(
            f"dot_q > 0 AND {EMB_T_DEN} * dot_q * dot_q >= {EMB_T_NUM} * na2 * nb2"
        )
    )


def sql_embedding_dup_pairs(vecs_table: str = "embeddings",
                            vec_col: str = "embedding", id_col: str = "vec_id",
                            dim: int = 64, n_planes: int = 8) -> str:
    """DuckDB oracle for embedding_dup_pairs_int: same quantization, same
    planted noise, same literal planes, same integer threshold test."""
    planes = emb_planes(n_planes, dim)
    rng = f"range(1, {dim + 1})"
    base_qv = f"[{_emb_quant('x')} for x in CAST({vec_col} AS DOUBLE[])]"
    hexint = (
        f"('0x' || substr(md5(CAST({id_col} AS VARCHAR) || '_' || "
        f"CAST(i AS VARCHAR)), 1, 15))::BIGINT"
    )
    noise = _emb_noise(id_col).replace("HEXINT", hexint)
    elem_q = _emb_quant(f"{vec_col}[i]")
    noisy_qv = f"[{elem_q} + {noise} for i in {rng}]"
    d_cols = ", ".join(
        f"CAST(list_sum([qv[i] * ([{','.join(map(str, planes[p]))}])[i] "
        f"for i in {rng}]) AS BIGINT) AS d{p}"
        for p in range(n_planes)
    )
    sketch = " + ".join(
        f"(CASE WHEN d{p} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(n_planes)
    )
    return f"""
WITH uni AS (
  SELECT {id_col} AS id, {base_qv} AS qv FROM {vecs_table}
  UNION ALL
  SELECT {id_col} + {EMB_COPY_OFFSET} AS id, {noisy_qv} AS qv FROM {vecs_table}
),
dd AS (SELECT id, qv, {d_cols},
              CAST(list_sum([q * q for q in qv]) AS BIGINT) AS na2 FROM uni),
sk AS (SELECT id, qv, na2, {sketch} AS sketch FROM dd),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(list_sum([a.qv[i] * b.qv[i] for i in {rng}]) AS BIGINT) AS dot_q,
         a.na2 AS na2, b.na2 AS nb2
  FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.id < b.id
)
SELECT id_a, id_b, dot_q, na2, nb2 FROM cand
WHERE dot_q > 0 AND {EMB_T_DEN} * dot_q * dot_q >= {EMB_T_NUM} * na2 * nb2
"""


def admit_new_docs(existing, new, key: str = "doc_id", fp_col: str = "fp"):
    """Incremental crawl admission: accept a new doc iff its fingerprint
    is unseen in the existing corpus AND not already claimed by an
    earlier doc of the same batch (recurring-crawl corpus maintenance —
    each snapshot admits only novel content).

    Shape: within-new winner = MIN(key) per fingerprint (hash aggregate,
    map-side combine), then a SHUFFLE anti join against the existing
    fingerprint set on the uniform fp key — never a broadcast: at scale
    the existing set rivals the corpus (it IS every fingerprint ever
    admitted). The fingerprint column is caller-supplied, so the same
    admission operator runs over exact md5, prefix fingerprints, or
    SimHash buckets.
    """
    from pyspark.sql import functions as F

    winners = new.groupBy(fp_col).agg(F.min(key).alias(key))
    return winners.join(
        existing.select(fp_col), fp_col, "left_anti"
    ).select(key, fp_col)
