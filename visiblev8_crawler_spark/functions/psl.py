"""Public-suffix eTLD+1 (the ``url_etld1`` column contract,
vv8_backend_database/init/2_mega_vv8_postgres_schema.sql:24).

The reference derives url_etld1 with a public-suffix-list library; this
module implements the PSL algorithm proper over the FULL published list
(publicsuffix.org), generated into ``psl_data.py`` by
``tools/gen_psl_data.py`` from the OS-shipped snapshot (rounds 1-3 used a
curated subset; round 4 generates all ~8.3k multi-label rules, unicode
rules carried in both forms with their IDNA/punycode twins).

Spark-first design: NO join and NO Python UDF — the host's last-k label
strings are tested for membership in literal sets, which Catalyst compiles
to InSet (O(1) hash probe inside whole-stage codegen). A broadcast-join
variant would also work but would turn every canonicalization projection
into a join, and at 8k+ entries the InSet sets are a plan constant that
keeps ``with_canonical`` map-only. That constant is not cheap to build:
PySpark's ``Column.isin`` makes one py4j call per literal, so building
``etld1_col`` costs 3.0-4.2 s of driver time on a 4-core box before any
analysis (analysis + physical planning add 0.2-1.6 s; the 10 s bound is
tests/test_urls.py::test_etld1_full_list_plan_compile_bounded). Frontier
prep (operators/dedup.py) therefore never calls it: FRONTIER_PREPARED has
no etld1 column. The pure-Python mirror below implements the identical
decision tree so the reference simulator agrees bit-for-bit.

PSL semantics implemented (exception first, then longest rule wins):
- exception rules (``!www.ck``)   -> suffix = rule minus its leftmost label
- exact rules  (``co.uk``)        -> suffix = the rule
- wildcard rules (``*.ck``)       -> suffix = one label + base
- default rule (``*``)            -> suffix = last label
eTLD+1 = suffix plus one preceding label; '' when the host IS a suffix
(no registrable domain). 1-label exact rules are omitted from the data
(identical outcome to the default rule).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .psl_data import EXACT, EXC, WILD

# decision order: exceptions (longest first), then rule length descending —
# an exact rule of L labels and a wildcard with an (L-1)-label base are both
# L-label rules (the * counts), so they yield the same suffix length L.
_EXC_LENS = sorted(EXC, reverse=True)
_MAX_RULE_LEN = max(max(EXACT), max(WILD) + 1)

_EXACT_SETS = {k: frozenset(v) for k, v in EXACT.items()}
_WILD_SETS = {k: frozenset(v) for k, v in WILD.items()}
_EXC_SETS = {k: frozenset(v) for k, v in EXC.items()}


def etld1_col(host: Column) -> Column:
    """eTLD+1 as a pure JVM expression tree (InSet membership + slice).

    Decision order = exceptions first, then decreasing rule length — the
    PSL prevailing-rule order. Returns '' when the host has no registrable
    domain (the host is itself a public suffix) — same contract as the
    Python mirror and the reference library's error case."""
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def last(k: int) -> Column:
        return F.concat_ws(".", F.slice(labels, -k, k))

    slen = None
    for e in _EXC_LENS:
        cond = (n >= e) & last(e).isin(*sorted(_EXC_SETS[e]))
        slen = F.when(cond, F.lit(e - 1)) if slen is None else slen.when(cond, F.lit(e - 1))
    for rule_len in range(_MAX_RULE_LEN, 1, -1):
        if rule_len in _EXACT_SETS:
            cond = (n >= rule_len) & last(rule_len).isin(*sorted(_EXACT_SETS[rule_len]))
            slen = slen.when(cond, F.lit(rule_len))
        base = rule_len - 1
        if base in _WILD_SETS:
            cond = (n >= rule_len) & last(base).isin(*sorted(_WILD_SETS[base]))
            slen = slen.when(cond, F.lit(rule_len))
    slen = slen.otherwise(F.lit(1))

    k1 = slen + F.lit(1)
    return F.when(
        (n > slen) & (F.length(host) > 0),
        F.concat_ws(".", F.slice(labels, -F.lit(1) * k1, k1)),
    ).otherwise(F.lit(""))


def public_suffix_py(host: str) -> str:
    labels = host.split(".")
    n = len(labels)

    def last(k: int) -> str:
        return ".".join(labels[-k:])

    for e in _EXC_LENS:
        if n >= e and last(e) in _EXC_SETS[e]:
            return last(e - 1)
    for rule_len in range(_MAX_RULE_LEN, 1, -1):
        if rule_len in _EXACT_SETS and n >= rule_len and last(rule_len) in _EXACT_SETS[rule_len]:
            return last(rule_len)
        base = rule_len - 1
        if base in _WILD_SETS and n >= rule_len and last(base) in _WILD_SETS[base]:
            return last(rule_len)
    return last(1)


def etld1_py(host: str) -> str:
    """Pure-Python mirror of :func:`etld1_col` — identical decision tree."""
    if not host:
        return ""
    labels = host.split(".")
    suffix = public_suffix_py(host)
    slen = suffix.count(".") + 1
    if len(labels) <= slen:
        return ""
    return ".".join(labels[-(slen + 1):])
