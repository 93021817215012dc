"""Host-level link graph + exact-integer PageRank (fixed iterations).

The web-corpus analog of the reference's dependency graph rollups
(specvital/core aggregates per-scope detections up a tree; a web corpus
aggregates authority over the host link graph). PageRank is THE classic
iterative web-scale workload, and it exercises exactly the machinery this
engine centralizes for loops: per-round materialization with lineage
truncation (``plans/materialize.pin``), uniform-key shuffles,
and a small node directory joined against a large edge table.

Exactness discipline (the whole point of this variant)
------------------------------------------------------
Float PageRank is NOT cross-engine deterministic: double sums depend on
association order, so Spark and DuckDB can differ in the last ulp and an
order-insensitive value hash would flip. This module instead runs the
damped iteration in pure BIGINT arithmetic:

- every node has exactly ``k_out`` out-edge SLOTS (multi-edges and
  self-loops allowed — both engines keep them),
- damping 0.85 is carried as the fraction 17/20,
- the initial rank is ``r0 = (20·k_out)^3`` per node, which makes every
  intermediate of a 3-iteration run divisible when it must be:
  ``r_t`` is a multiple of ``(20·k_out)^(3-t)``, so the per-round
  ``17 · (Σ in-rank) DIV (20·k_out)`` is TRUE integer division with zero
  remainder (asserted in tests against a fractions.Fraction model).

With mass conserved (no dangling nodes — fixed out-degree), total rank
stays ``N·r0`` after every round; at web scale (10^8 hosts) that is
~5·10^13 · N/N per node, far inside BIGINT.

Graph derivation (generation-rule oracle, CLAUDE.md trick)
----------------------------------------------------------
The corpus tables carry no hyperlinks, so the edge table is DERIVED
deterministically from the document ids: hosts are the dense residues
``doc_id % n_hosts`` present in the table, and host ``h``'s ``k_out``
out-slots target the hash-selected node ``md5('lg_<h>_<j>') % N`` via a
dense index over the host directory. Both engines emit the identical
graph, so the DuckDB twin gates the whole pipeline (derivation +
3 rounds) bit-for-bit. The dense-index window runs over the HOST
DIRECTORY (tiny — 97 rows here, ~10^8 at web scale, never the corpus);
a real crawl would extract (src_host, dst_host) from anchors instead
and skip the index entirely — ``pagerank()`` takes any edge table whose
out-degree is uniformly ``k_out``.

At 100 TB: the edge table shuffles on uniform host keys (md5-derived —
no skew by construction; a real crawl graph would salt the join keys
of mega-hosts, SURVEY.md G8); the rank table is |hosts| rows,
re-pinned per round so each iteration's plan stays flat (the measured
7x lineage-keeping-persist lesson, materialize.py docstring). Exactly
``iters`` joins + hash-aggs — O(log-free) fixed rounds, no convergence
probe needed because the iteration count is part of the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin

#: damping 0.85 as an exact fraction
_DAMP_NUM, _DAMP_DEN = 17, 20


def initial_rank(k_out: int, iters: int = 3) -> int:
    """Per-node starting mass making ``iters`` rounds integer-exact."""
    return (_DAMP_DEN * k_out) ** iters


def derive_host_edges(
    docs: DataFrame,
    n_hosts: int = 97,
    k_out: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic (src, dst) host edge table from document ids.

    Closed by construction: targets are chosen from the dense index of
    hosts actually present, so every dst has its own ``k_out`` out-slots
    (no dangling mass at ANY scale factor).
    """
    from pyspark.sql import Window

    nodes = docs.selectExpr(f"{id_col} % {n_hosts} AS host").distinct()
    # Dense 0..N-1 index over the HOST DIRECTORY (tiny; module docstring).
    idx = nodes.withColumn(
        "i", F.row_number().over(Window.orderBy("host")) - F.lit(1)
    )
    cnt = nodes.agg(F.count("*").cast("long").alias("n"))
    slots = (
        idx.select(F.col("host").alias("src"))
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(k_out - 1))))
        .crossJoin(F.broadcast(cnt))
        .selectExpr(
            "src",
            # portable 60-bit md5 hash -> target slot in [0, N)
            "CAST(conv(substr(md5(concat('lg_', CAST(src AS STRING), '_', "
            "CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT) % n AS ti",
        )
    )
    tgt = idx.select(F.col("i").alias("ti"), F.col("host").alias("dst"))
    return slots.join(F.broadcast(tgt), "ti").select("src", "dst")


def pagerank(
    edges: DataFrame, k_out: int, iters: int = 3
) -> DataFrame:
    """(host, in_deg, rank): exact-BIGINT damped PageRank over ``edges``.

    ``edges`` must have exactly ``k_out`` rows per src (multi-edges and
    self-loops count as slots). Returns in-degree (slot count) and the
    rank after ``iters`` rounds at scale ``initial_rank(k_out, iters)``
    total mass per node.
    """
    edges = pin(edges)  # consumed every round + by in_deg
    nodes = pin(edges.select(F.col("src").alias("host")).distinct())
    r0 = initial_rank(k_out, iters)
    teleport = (_DAMP_DEN - _DAMP_NUM) * r0 // _DAMP_DEN
    share_den = _DAMP_DEN * k_out  # Σ in-rank is divisible by this
    ranks = nodes.withColumn("rank", F.lit(r0).cast("long"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges.src == ranks.host)
            .groupBy("dst")
            .agg(F.sum("rank").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.host == contrib.dst, "left")
            .selectExpr(
                "host",
                f"{teleport} + {_DAMP_NUM} * "
                f"(coalesce(s, 0) DIV {share_den}) AS rank",
            )
        )
        ranks = pin(ranks)
    in_deg = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        ranks.join(in_deg, "host", "left")
        .selectExpr("host", "coalesce(in_deg, 0) AS in_deg", "rank")
    )


def pagerank_weighted(
    edges: DataFrame, iters: int = 3, r0: int = 10**12
) -> DataFrame:
    """(host, rank): damped PageRank over a REAL crawl edge table —
    arbitrary per-src out-degree, edge multiplicities, dangling hosts.

    ``edges`` has (src_host, dst_host, n_links) as ``weblinks.host_edges``
    emits. Unlike :func:`pagerank` (fixed out-degree, zero-remainder
    exact), the general iteration cannot be remainder-free: it stays in
    pure BIGINT with truncating division, which is DETERMINISTIC and
    bit-portable (Spark ``DIV`` == DuckDB ``//`` on non-negative
    operands) — the property the oracle needs. Per round:

        contrib(e) = (rank_src * n_links) DIV out_total_src
        rank'      = teleport + (17 * Σ contrib_in) DIV 20

    with teleport = (3 * r0) DIV 20. Truncation loses < 1 unit per
    edge per round — at r0 = 10^12 a relative error < 10^-9, far below
    ranking granularity. Dangling hosts (no outlinks) keep receiving
    and simply leak their mass — the standard simplification; a real
    redistribution pass is one extra aggregate if total-mass invariance
    ever matters.

    Node directory = every host appearing as src or dst. Per-round
    plans: one join edges⋈ranks on src (uniform host keys), one
    hash-agg on dst, one left join back to the directory — re-pinned
    per round so plans stay flat.
    """
    teleport = ((_DAMP_DEN - _DAMP_NUM) * r0) // _DAMP_DEN
    return _damped_ranks(edges, iters, {}, f"CAST({r0} AS BIGINT)", str(teleport))


def _damped_ranks(
    edges: DataFrame, iters: int, node_cols: dict[str, str], start_sql: str, teleport_sql: str
) -> DataFrame:
    """(host, rank, *node_cols) after ``iters`` truncating-DIV rounds over
    (src_host, dst_host, n_links): the rounds :func:`pagerank_weighted` and
    :func:`pagerank_personalized` share. Every host of ``edges`` is a node;
    ``node_cols`` (name -> SQL over ``host``) ride along, the start rank is
    ``start_sql`` and each round adds ``teleport_sql`` (both SQL over the
    node's columns)."""
    edges = pin(edges)
    deg = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_total"))
    ed = pin(
        edges.join(deg, "src_host").select(
            "src_host", "dst_host", "n_links", "out_total"
        )
    )
    carried = list(node_cols)
    nodes = pin(
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .selectExpr("host", *[f"{sql} AS {name}" for name, sql in node_cols.items()])
    )
    ranks = nodes.selectExpr("host", *carried, f"{start_sql} AS rank")
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed.src_host == ranks.host)
            .selectExpr(
                "dst_host",
                "(rank * n_links) DIV out_total AS c",
            )
            .groupBy("dst_host")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.host == contrib.dst_host, "left")
            .selectExpr(
                "host", *carried,
                f"{teleport_sql} + ({_DAMP_NUM} * coalesce(s, 0))"
                f" DIV {_DAMP_DEN} AS rank",
            )
        )
        ranks = pin(ranks)
    return ranks.select("host", "rank", *carried)


def sql_pagerank_weighted(
    edges_sql: str, iters: int = 3, r0: int = 10**12
) -> str:
    """DuckDB twin of :func:`pagerank_weighted` (unrolled CTE chain).

    ``edges_sql`` must yield (src_host, dst_host, n_links).
    """
    teleport = ((_DAMP_DEN - _DAMP_NUM) * r0) // _DAMP_DEN
    return _sql_damped_ranks(edges_sql, iters, {}, str(r0), str(teleport))


def _sql_damped_ranks(
    edges_sql: str, iters: int, node_cols: dict[str, str], start_sql: str, teleport_sql: str
) -> str:
    """DuckDB twin of :func:`_damped_ranks` (unrolled CTE chain)."""
    carried = "".join(f", {name}" for name in node_cols)
    rounds = []
    prev = "r0"
    for t in range(1, iters + 1):
        rounds.append(
            f"""c{t} AS (
              SELECT e.dst_host AS host,
                     CAST(SUM((r.rank * e.n_links) // e.out_total)
                          AS BIGINT) AS s
              FROM ed e JOIN {prev} r ON r.host = e.src_host
              GROUP BY e.dst_host
            ), r{t} AS (
              SELECT host{carried},
                     {teleport_sql} + ({_DAMP_NUM} * COALESCE(c.s, 0))
                       // {_DAMP_DEN} AS rank
              FROM nodes n LEFT JOIN c{t} c USING (host)
            )"""
        )
        prev = f"r{t}"
    rounds_sql = ",\n".join(rounds)
    node_sql = "".join(f", {sql} AS {name}" for name, sql in node_cols.items())
    return f"""
        WITH edges AS ({edges_sql}),
        deg AS (
          SELECT src_host, SUM(n_links) AS out_total
          FROM edges GROUP BY src_host
        ),
        ed AS (
          SELECT e.src_host, e.dst_host, e.n_links, d.out_total
          FROM edges e JOIN deg d USING (src_host)
        ),
        nodes AS (
          SELECT host{node_sql} FROM (
            SELECT src_host AS host FROM edges
            UNION
            SELECT dst_host AS host FROM edges
          )
        ),
        r0 AS (
          SELECT host{carried}, CAST({start_sql} AS BIGINT) AS rank FROM nodes
        ),
        {rounds_sql}
        SELECT host, rank{carried} FROM {prev}
    """


def sql_host_pagerank(
    inner_sql: str,
    n_hosts: int = 97,
    k_out: int = 4,
    iters: int = 3,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of derive_host_edges + pagerank (unrolled CTE chain)."""
    r0 = initial_rank(k_out, iters)
    teleport = (_DAMP_DEN - _DAMP_NUM) * r0 // _DAMP_DEN
    share_den = _DAMP_DEN * k_out
    jj = ", ".join(f"({j})" for j in range(k_out))
    rounds = []
    prev = "r0"
    for t in range(1, iters + 1):
        rounds.append(
            f"""c{t} AS (
              SELECT e.dst AS host, CAST(SUM(r.rank) AS BIGINT) AS s
              FROM edges e JOIN {prev} r ON r.host = e.src
              GROUP BY e.dst
            ), r{t} AS (
              SELECT n.host AS host,
                     {teleport} + {_DAMP_NUM} * (COALESCE(c.s, 0) // {share_den}) AS rank
              FROM nodes n LEFT JOIN c{t} c USING (host)
            )"""
        )
        prev = f"r{t}"
    rounds_sql = ",\n".join(rounds)
    return f"""
        WITH nodes AS (
          SELECT DISTINCT ({id_col} % {n_hosts}) AS host FROM ({inner_sql})
        ), idx AS (
          SELECT host, ROW_NUMBER() OVER (ORDER BY host) - 1 AS i FROM nodes
        ), cnt AS (
          SELECT COUNT(*) AS n FROM nodes
        ), slots AS (
          SELECT host AS src, j
          FROM idx CROSS JOIN (VALUES {jj}) AS jj(j)
        ), edges AS (
          SELECT s.src AS src, t.host AS dst
          FROM slots s CROSS JOIN cnt c
          JOIN idx t ON t.i = (
            ('0x' || substr(md5('lg_' || CAST(s.src AS VARCHAR) || '_' ||
                                 CAST(s.j AS VARCHAR)), 1, 15))::BIGINT
          ) % c.n
        ), indeg AS (
          SELECT dst AS host, COUNT(*) AS in_deg FROM edges GROUP BY dst
        ),
        r0 AS (
          SELECT host, CAST({r0} AS BIGINT) AS rank FROM nodes
        ),
        {rounds_sql}
        SELECT r.host AS host, COALESCE(i.in_deg, 0) AS in_deg,
               r.rank AS rank
        FROM {prev} r LEFT JOIN indeg i USING (host)
    """


# ---------------------------------------------------------------------------
# HITS (hubs & authorities)
# ---------------------------------------------------------------------------

def hits(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(host, authority, hub): exact-BIGINT HITS after ``iters`` rounds.

    PageRank ranks by global endorsement flow; HITS (Kleinberg 1999)
    separates AUTHORITIES (pages good to link TO — content hosts) from
    HUBS (pages good to link FROM — directories, link farms), which is
    the distinction a crawl-prioritization or seed-selection pass
    actually wants. Kleinberg's L2 normalization each round exists only
    to keep floats bounded; rankings are invariant under positive
    scaling, so this variant skips it and stays in exact BIGINT — hub₀
    = 1, then per round a ← Σ_in hub, h ← Σ_out a (growth per full
    round ≤ max_in_deg × max_out_deg; at any realistic degree bound a
    handful of rounds sits far inside BIGINT — hits_bound() states the
    worst case so callers can check before raising ``iters``).
    Normalize driver-side if unit scores are wanted.

    Per-round plans mirror pagerank(): edges⋈scores on one uniform host
    key, hash-agg on the other, left join back to the node directory,
    re-pinned per round to keep plans flat. Nodes with no
    in-links hold authority 0 (respectively hub 0) — kept, not dropped.
    """
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    edges = pin(edges)
    nodes = pin(
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    hub = nodes.withColumn("hub", F.lit(1).cast("long"))
    auth = nodes.withColumn("authority", F.lit(0).cast("long"))
    for _ in range(iters):
        a_in = (
            edges.join(hub, edges.src == hub.host)
            .groupBy("dst").agg(F.sum("hub").alias("s"))
        )
        auth = pin(
            nodes.join(a_in, nodes.host == a_in.dst, "left")
            .selectExpr("host", "CAST(coalesce(s, 0) AS BIGINT) AS authority")
        )
        h_out = (
            edges.join(auth, edges.dst == auth.host)
            .groupBy("src").agg(F.sum("authority").alias("s"))
        )
        hub = pin(
            nodes.join(h_out, nodes.host == h_out.src, "left")
            .selectExpr("host", "CAST(coalesce(s, 0) AS BIGINT) AS hub")
        )
    return auth.join(hub, "host")


def hits_bound(max_in_deg: int, max_out_deg: int, iters: int) -> int:
    """Worst-case score magnitude after ``iters`` rounds (hub₀ = 1)."""
    a = h = 1
    for _ in range(iters):
        a = max_in_deg * h
        h = max_out_deg * a
    return max(a, h)


def sql_hits(edges_sql: str, iters: int = 2) -> str:
    """DuckDB twin of :func:`hits` (unrolled CTE chain).

    ``edges_sql`` must yield (src, dst)."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    rounds = []
    prev_h = "h0"
    prev_a = None
    for t in range(1, iters + 1):
        rounds.append(
            f"""a{t} AS (
              SELECT n.host, CAST(COALESCE(c.s, 0) AS BIGINT) AS authority
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS host, SUM(h.hub) AS s
                FROM edges e JOIN {prev_h} h ON h.host = e.src
                GROUP BY e.dst
              ) c USING (host)
            ), h{t} AS (
              SELECT n.host, CAST(COALESCE(c.s, 0) AS BIGINT) AS hub
              FROM nodes n LEFT JOIN (
                SELECT e.src AS host, SUM(a.authority) AS s
                FROM edges e JOIN a{t} a ON a.host = e.dst
                GROUP BY e.src
              ) c USING (host)
            )"""
        )
        prev_h, prev_a = f"h{t}", f"a{t}"
    rounds_sql = ",\n".join(rounds)
    return f"""
        WITH edges AS ({edges_sql}),
        nodes AS (
          SELECT src AS host FROM edges
          UNION
          SELECT dst AS host FROM edges
        ),
        h0 AS (SELECT host, CAST(1 AS BIGINT) AS hub FROM nodes),
        {rounds_sql}
        SELECT a.host AS host, a.authority, h.hub
        FROM {prev_a} a JOIN {prev_h} h USING (host)
    """


def sql_derived_host_edges(
    inner_sql: str, n_hosts: int = 97, k_out: int = 4,
    id_col: str = "doc_id",
) -> str:
    """The derive_host_edges generation rule as standalone SQL yielding
    (src, dst) — same derivation sql_host_pagerank inlines."""
    jj = ", ".join(f"({j})" for j in range(k_out))
    return f"""
        WITH nodes_ AS (
          SELECT DISTINCT ({id_col} % {n_hosts}) AS host FROM ({inner_sql})
        ), idx AS (
          SELECT host, ROW_NUMBER() OVER (ORDER BY host) - 1 AS i
          FROM nodes_
        ), cnt AS (
          SELECT COUNT(*) AS n FROM nodes_
        ), slots AS (
          SELECT host AS src, j
          FROM idx CROSS JOIN (VALUES {jj}) AS jj(j)
        )
        SELECT s.src AS src, t.host AS dst
        FROM slots s CROSS JOIN cnt c
        JOIN idx t ON t.i = (
          ('0x' || substr(md5('lg_' || CAST(s.src AS VARCHAR) || '_' ||
                               CAST(s.j AS VARCHAR)), 1, 15))::BIGINT
        ) % c.n
    """


# ---------------------------------------------------------------------------
# Personalized PageRank (random walk with restart)
# ---------------------------------------------------------------------------

def pagerank_personalized(
    edges: DataFrame,
    seeds: list,
    iters: int = 3,
    r0: int = 10**12,
) -> DataFrame:
    """(host, rank, is_seed): PageRank personalized to a SEED set —
    the "related hosts to X" query (random walk with restart,
    Jeh & Widom 2003). Global PageRank asks who is important overall;
    this asks who is important FROM the seeds' neighborhood: walkers
    START at the seeds and every restart returns there, so rank decays
    with graph distance from the seed set and unreachable hosts score
    exactly 0.

    Same fixed-point discipline as :func:`pagerank_weighted`
    (truncating DIV — deterministic and bit-portable), with two
    changes: the teleport term is seed-MASKED ((3·r0) DIV 20 per
    seed, 0 elsewhere), and the iteration STARTS from that restart
    mass — r_0 = teleport·e_S, so after T rounds the rank equals the
    truncated power series (1−α)·Σ_{k≤T} α^k M^k e_S and decays
    MONOTONICALLY with hop distance. (Starting from a full r0 pulse
    instead sends an undamped wave down the graph: a node T hops out
    briefly outranks everything nearer — measured on a 4-chain, the
    motivating bug for this docstring.) Per-round plan shape is
    identical to the weighted variant (join on src, hash-agg on dst,
    left join to the directory, re-pinned per round); the seed mask
    is one broadcast IN-list — never a join.

    ``seeds`` must be non-empty; seeds absent from the graph
    contribute teleport mass but receive no in-flow (documented —
    a seed with no edges is still "near itself").
    """
    if not seeds:
        raise ValueError("pagerank_personalized: seeds must be non-empty")
    if iters < 1:
        raise ValueError("pagerank_personalized: iters must be >= 1")
    teleport = ((_DAMP_DEN - _DAMP_NUM) * r0) // _DAMP_DEN
    restart = f"is_seed * {teleport}"
    return _damped_ranks(edges, iters, _seed_col(seeds), restart, restart)


def _seed_col(seeds: list) -> dict[str, str]:
    seed_list = ", ".join(str(int(s)) for s in seeds)
    return {"is_seed": f"CAST(host IN ({seed_list}) AS BIGINT)"}


def sql_pagerank_personalized(
    edges_sql: str,
    seeds: list,
    iters: int = 3,
    r0: int = 10**12,
) -> str:
    """DuckDB twin of :func:`pagerank_personalized` (unrolled CTEs,
    seed-masked teleport). ``edges_sql`` yields
    (src_host, dst_host, n_links)."""
    if not seeds:
        raise ValueError("pagerank_personalized: seeds must be non-empty")
    if iters < 1:
        raise ValueError("pagerank_personalized: iters must be >= 1")
    teleport = ((_DAMP_DEN - _DAMP_NUM) * r0) // _DAMP_DEN
    restart = f"is_seed * {teleport}"
    return _sql_damped_ranks(edges_sql, iters, _seed_col(seeds), restart, restart)
