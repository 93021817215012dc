"""Public-suffix (eTLD+1) registrable-domain extraction.

Web-corpus curation groups by *registrable domain* (eTLD+1), not raw
host: ``a.blog.example.co.uk`` and ``b.example.co.uk`` belong to the
same owner (``example.co.uk``), while ``alice.github.io`` and
``bob.github.io`` do NOT (``github.io`` is a private-registry public
suffix — each user site is its own registrable domain). Per-host caps
(weburl.cap_per_host) under-merge the former and over-merge nothing,
but quality gates, per-publisher caps and contamination audits all want
the eTLD+1 key. Semantics follow the publicsuffix.org algorithm over an
EMBEDDED snapshot subset (``EXACT_RULES`` / ``WILDCARD_TAILS`` /
``EXCEPTION_RULES`` below):

- a rule matches when its labels are a suffix of the host's labels,
  ``*`` matching exactly one label;
- the prevailing rule is any matching exception rule, else the matching
  rule with the most labels, else the implicit ``*`` (last label);
- public suffix = prevailing rule's labels (exception: minus its
  leftmost label); registrable domain = public suffix + one more host
  label, NULL when the host IS a public suffix (or has too few labels).

100-TB shape: the whole lookup is ONE codegen'd projection — no join,
no broadcast, no shuffle, no Python. The rule table compiles into
per-label-count IN-lists over stepwise suffix columns (CLAUDE.md
hexgrid rule: every suffix is extracted once into its own column, never
re-inlined), so Catalyst keeps a single WholeStageCodegen span.
Normalization (lowercase, trailing-dot strip) and hygiene (empty /
leading-dot / empty-label hosts -> NULL) happen in the same projection.

The DuckDB twin runs the IDENTICAL step SQL text (regex character
classes ``[.]`` avoid the one escaping difference), so the oracle gates
the expression itself. No reference counterpart (specvital/core scans
file trees); rule-set shape follows the public publicsuffix.org format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Embedded snapshot SUBSET of the public suffix list (publicsuffix.org,
# MPL-2.0 data; a few dozen representative rules, not the full list —
# swapping in the full snapshot is a data change, not a code change).
# ICANN single-label TLD rules (com, org, uk, jp, ...) are omitted on
# purpose: they are equivalent to the implicit '*' default (ps_len 1).
EXACT_RULES = [
    # ICANN multi-label
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "co.jp", "ne.jp", "or.jp", "go.jp", "ac.jp", "ad.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "firm.in", "gen.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "co.za", "org.za", "web.za",
    "co.kr", "or.kr", "go.kr",
    "com.mx", "org.mx", "gob.mx",
    "com.ar", "com.tr", "com.sg", "com.my",
    "co.th", "co.id", "co.nz", "org.nz",
    # private registries
    "github.io", "gitlab.io", "blogspot.com", "appspot.com",
    "herokuapp.com", "cloudfront.net", "web.app", "firebaseapp.com",
    "s3.amazonaws.com",
]
# '*.tail' rules, keyed by the tail (the labels after '*').
WILDCARD_TAILS = ["ck", "er", "np", "bd", "kawasaki.jp",
                  "compute.amazonaws.com"]
# '!rule' rules: the public suffix is the rule minus its leftmost label.
EXCEPTION_RULES = ["www.ck", "city.kawasaki.jp"]

_MAX_PS = 1 + max(t.count(".") + 2 for t in WILDCARD_TAILS)  # deepest rule
_N_SUFFIX = _MAX_PS + 1  # registrable domain needs one more label


def _nlabels(rule: str) -> int:
    return rule.count(".") + 1


def _in_list(col: str, values: list[str]) -> str:
    quoted = ", ".join(f"'{v}'" for v in values)
    return f"{col} IN ({quoted})"


def _psl_steps(host_col: str) -> list[tuple[str, str]]:
    """Ordered (col, sql_expr) steps; IDENTICAL text in both dialects."""
    steps: list[tuple[str, str]] = [
        # normalize: lowercase, strip ONE trailing dot (FQDN form)
        ("_h", f"regexp_replace(lower({host_col}), '[.]$', '')"),
        # hygiene: non-empty, no empty labels anywhere
        ("_ok", "_h IS NOT NULL AND _h != '' AND _h NOT LIKE '.%'"
                " AND _h NOT LIKE '%.' AND _h NOT LIKE '%..%'"),
        ("_n", "length(_h) - length(replace(_h, '.', '')) + 1"),
    ]
    for k in range(1, _N_SUFFIX + 1):
        pat = f"(?:^|[.])((?:[^.]+[.]){{{k - 1}}}[^.]+)$"
        steps.append((f"_s{k}", f"regexp_extract(_h, '{pat}', 1)"))

    # prevailing rule -> public-suffix label count. Exceptions first
    # (they beat longer matches by definition), then non-exception rules
    # from most labels to fewest; implicit '*' default is 1.
    arms: list[str] = []
    by_len: dict[int, list[str]] = {}
    for r in EXCEPTION_RULES:
        by_len.setdefault(_nlabels(r), []).append(r)
    for n in sorted(by_len, reverse=True):
        arms.append(f"WHEN {_in_list(f'_s{n}', sorted(by_len[n]))}"
                    f" THEN {n - 1}")
    exact_by_len: dict[int, list[str]] = {}
    for r in EXACT_RULES:
        exact_by_len.setdefault(_nlabels(r), []).append(r)
    wild_by_len: dict[int, list[str]] = {}
    for t in WILDCARD_TAILS:
        wild_by_len.setdefault(_nlabels(t), []).append(t)
    # rule label count: exact rule with n labels -> n; wildcard tail with
    # n labels -> n+1. Emit in decreasing rule-length order.
    max_rule = max([*(n for n in exact_by_len), 0,
                    *(n + 1 for n in wild_by_len)])
    for rule_len in range(max_rule, 1, -1):
        if rule_len - 1 in wild_by_len:
            tails = sorted(wild_by_len[rule_len - 1])
            arms.append(
                f"WHEN _n >= {rule_len} AND "
                f"{_in_list(f'_s{rule_len - 1}', tails)} THEN {rule_len}")
        if rule_len in exact_by_len:
            arms.append(f"WHEN {_in_list(f'_s{rule_len}', sorted(exact_by_len[rule_len]))}"
                        f" THEN {rule_len}")
    steps.append(("_pslen", "CASE " + " ".join(arms) + " ELSE 1 END"))

    def suffix_case(len_expr: str) -> str:
        whens = " ".join(f"WHEN {k} THEN _s{k}"
                         for k in range(1, _N_SUFFIX + 1))
        return f"CASE {len_expr} {whens} ELSE NULL END"

    steps.append(("public_suffix",
                  f"CASE WHEN _ok THEN {suffix_case('_pslen')} END"))
    steps.append(("reg_domain",
                  f"CASE WHEN _ok AND _n >= _pslen + 1"
                  f" THEN {suffix_case('_pslen + 1')} END"))
    return steps


_INTERNAL = ["_h", "_ok", "_n", "_pslen"] + [
    f"_s{k}" for k in range(1, _N_SUFFIX + 1)
]


def registrable_domain(df: DataFrame, host_col: str = "host") -> DataFrame:
    """Add ``public_suffix`` + ``reg_domain`` columns. Pure projection:
    no shuffle, no Python, one codegen span (plan-asserted in tests)."""
    for name, expr in _psl_steps(host_col):
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*_INTERNAL)


def sql_registrable(table_sql: str, host_col: str = "host") -> str:
    """DuckDB SQL twin: the operator's STEP expressions, byte-identical,
    then ``* EXCLUDE`` prunes the internal columns."""
    inner = f"SELECT * FROM {table_sql}"
    for name, expr in _psl_steps(host_col):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    drop = ", ".join(_INTERNAL)
    return f"SELECT * EXCLUDE ({drop}) FROM ({inner})"
