"""GSL — a GMQL-shaped script language for the transcript engine.

The reference's PRIMARY entry point is a parsed text language: scripts of
``VAR = OPERATOR(params) INPUTS;`` statements ending in MATERIALIZE,
compiled in two phases — parse to a statement list
(``Compiler/.../Translator.scala:311-362``, grammar ``GmqlParsers.scala``)
then a symbol-table pass that checks input counts/variables and lowers
each statement onto the IR DAG (``Translator.scala:364-393``,
``check_input_number``/``check_input_variables``). This module is that
surface recast for the time-series engine: same statement shape, same
two-phase compile, but statements lower to DataFrame compositions of the
engine's operator functions, so the whole script is ONE Catalyst plan
per materialized variable (the reference has no optimizer between
statements; here statement boundaries are fused by Catalyst for free).

Example::

    T = LOAD '/warehouse/transcripts';
    U = SELECT(role = 'user') T;
    R = ROLLUP(tier: '1m') U;
    H = CASCADE(tier: '1h') R;
    G = GAPFILL(tier: '1h', value: 'turn_count') H;
    MATERIALIZE G INTO '/out/gapfilled';

Grammar (hand-rolled, mirrors the reference's parser-combinator grammar
in spirit, not code)::

    script    := statement (';' statement)* ';'?
    statement := NAME '=' OP '(' params? ')' NAME*      -- operator
               | NAME '=' LOAD STRING                   -- source
               | MATERIALIZE NAME (INTO STRING)?        -- sink
    params    := param (',' param)*
    param     := KEY ':' value | raw-expression          -- SELECT/PROJECT
    value     := STRING | NUMBER | IDENT | '[' value* ']'

Reserved trailing keywords in ORDER specs (``by:`` params): a final
``asc`` / ``desc`` token (optionally followed by ``nulls first|last``)
is ALWAYS a sort direction, exactly as in SQL — so an expression whose
last identifier is literally a column named ``asc``/``desc`` must
backtick-quote it (``by: '`desc`'`` orders by the column named desc;
``by: 'price desc'`` orders by price descending). A backtick-quoted
trailing token is never peeled as a direction.

Statement inventory (every family is round-tripped against the driver
board in tests/test_dsl_board.py — the scripts must reproduce the
CORRECTNESS gates' frames exactly):

- relational:    SELECT PROJECT EXTEND GROUP ORDER TOPK UNION MERGE
                 SEMIJOIN PURGE JOINBY
- windows/tiers: ROLLUP CASCADE WINDOW REWINDOW GAPFILL GAPS
                 PERCENTILES HIST SESSIONIZE PROFILE
- serving:       SERVE (realtime routing over in-script tier+raw frames)
                 STITCH <frame> (range stitch over derived tiers)
                 STREAM (real availableNow drain + batch tail union;
                 eager, side-effecting — needs a dir: scratch param)
- range algebra: DIFFERENCE ASOF NEAREST CONDJOIN JOIN COVER HISTOGRAM
                 SUMMIT FLAT JACCARD MAP
- text/dedup:    DEDUP(exact|minhash|ngram|simhash) COMPONENTS
                 CANONICAL TEXTSTATS SPLIT SAMPLE
- similarity:    ANN(brute|lsh) IVF TRAIN NEARPAIRS
- multimodal:    FRAMES
- compression:   COMPRESS DECOMPRESS (Gorilla streams, zone-map reads)
- storage/maintenance (special-cased in compile_script, side-effecting
  or path-bound): LOAD MATERIALIZE INGEST COMPACT RETENTION REALTIME
                 STITCH
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class GSLError(ValueError):
    """Parse/compile error with statement context (the reference raises
    ``CompilerException`` with position info, ``Translator.scala``)."""


# ---------------------------------------------------------------- phase 1

@dataclass
class Statement:
    target: str | None
    op: str
    params: dict
    raw_params: str
    inputs: list[str]
    into: str | None = None
    pos: int = 0


_STMT_RE = re.compile(
    r"^\s*(?P<target>[A-Za-z_]\w*)\s*=\s*(?P<op>[A-Za-z_]\w*)\s*"
    r"\((?P<params>.*)\)\s*(?P<inputs>[\w\s]*)$",
    re.S,
)
_LOAD_RE = re.compile(
    r"^\s*(?P<target>[A-Za-z_]\w*)\s*=\s*LOAD\s+'(?P<path>[^']+)'\s*$", re.I
)
_MAT_RE = re.compile(
    r"^\s*MATERIALIZE\s+(?P<name>[A-Za-z_]\w*)\s*(?:INTO\s+'(?P<into>[^']+)')?\s*$", re.I
)


def _split_statements(text: str) -> list[tuple[int, str]]:
    """Split on ';' outside quotes (statement separator, as in GMQL)."""
    out, buf, depth, q = [], [], 0, None
    start = 1
    line = 1
    for ch in text:
        if ch == "\n":
            line += 1
        if q:
            buf.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == ";" and depth == 0:
            s = "".join(buf).strip()
            if s:
                out.append((start, s))
            buf, start = [], line
        else:
            buf.append(ch)
    s = "".join(buf).strip()
    if s:
        out.append((start, s))
    return out


def _strip_comments(text: str) -> str:
    """Remove ``#`` comments with the same quote-tracking scan as
    ``_split_statements``, so a ``#`` inside a quoted literal (e.g.
    ``LOAD '/data/run#3'``) is preserved."""
    out, q, skip = [], None, False
    for ch in text:
        if skip:
            if ch == "\n":
                skip = False
                out.append(ch)
            continue
        if q:
            out.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            out.append(ch)
        elif ch == "#":
            skip = True
        else:
            out.append(ch)
    return "".join(out)


def _parse_value(tok: str):
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    if tok.startswith("[") and tok.endswith("]"):
        inner = tok[1:-1].strip()
        return [_parse_value(t) for t in inner.split(",")] if inner else []
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    low = tok.lower()
    if low in ("true", "false"):
        return low == "true"
    return tok  # bare identifier


def _parse_params(raw: str) -> dict:
    """``key: value, key: value`` pairs; anything that is not a pair is
    left to the operator as the raw expression (SELECT/PROJECT bodies)."""
    params: dict = {}
    depth, q, buf, parts = 0, None, [], []
    for ch in raw:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf))
    for part in parts:
        m = re.match(r"^\s*([A-Za-z_]\w*)\s*:\s*(.+)$", part, re.S)
        if m:
            params[m.group(1)] = _parse_value(m.group(2))
    return params


def parse(text: str) -> list[Statement]:
    """Phase 1: script text -> statement list (≙ ``Translator.phase1``)."""
    stmts: list[Statement] = []
    for pos, s in _split_statements(_strip_comments(text)):
        m = _MAT_RE.match(s)
        if m:
            stmts.append(
                Statement(None, "MATERIALIZE", {}, "", [m.group("name")],
                          into=m.group("into"), pos=pos)
            )
            continue
        m = _LOAD_RE.match(s)
        if m:
            stmts.append(
                Statement(m.group("target"), "LOAD", {"path": m.group("path")}, "", [], pos=pos)
            )
            continue
        m = _STMT_RE.match(s)
        if not m:
            raise GSLError(f"line {pos}: cannot parse statement: {s[:120]!r}")
        inputs = m.group("inputs").split()
        stmts.append(
            Statement(
                m.group("target"),
                m.group("op").upper(),
                _parse_params(m.group("params")),
                m.group("params").strip(),
                inputs,
                pos=pos,
            )
        )
    return stmts


# ---------------------------------------------------------------- phase 2

def _op_select(dfs: Sequence[DataFrame], st: Statement) -> DataFrame:
    expr = st.params.get("where") or st.raw_params
    if not expr:
        raise GSLError(f"line {st.pos}: SELECT needs a predicate")
    return dfs[0].filter(expr)


_PROJECT_RESERVED = ("keep", "start", "end", "start_col", "end_col", "clamp_min")


def _op_project(dfs, st):
    """PROJECT: column keep-list + computed columns; with ``start`` and
    ``end`` params it is the interval-rewrite sugar (ProjectRD coordinate
    reassignment, ``ProjectRD.scala:22-119``): rewrite the interval pair
    with clamp (``clamp_min``) + drop-degenerate rules via
    ``project_intervals``."""
    df = dfs[0]
    if "start" in st.params and "end" in st.params:
        from gmql_spark.operators.project import project_intervals

        df = project_intervals(
            df,
            F.expr(str(st.params["start"])),
            F.expr(str(st.params["end"])),
            start_col=st.params.get("start_col", "start_ts"),
            end_col=st.params.get("end_col", "end_ts"),
            min_ts=st.params.get("clamp_min"),
        )
    elif "start" in st.params or "end" in st.params:
        raise GSLError(
            f"line {st.pos}: PROJECT interval rewrite needs BOTH start and end"
        )
    keep = st.params.get("keep")
    exprs = {k: v for k, v in st.params.items() if k not in _PROJECT_RESERVED}
    cols = list(keep) if keep else ([] if exprs else df.columns)
    out = [F.col(c) for c in cols] + [F.expr(str(v)).alias(k) for k, v in exprs.items()]
    return df.select(*out)


def _op_extend(dfs, st):
    keys = st.params.get("by", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    aggs = [
        F.expr(str(v)).alias(k) for k, v in st.params.items() if k not in ("by",)
    ]
    if not aggs:
        raise GSLError(f"line {st.pos}: EXTEND needs aggregate expressions")
    return dfs[0].groupBy(*keys).agg(*aggs)


def _op_rollup(dfs, st):
    from gmql_spark.operators.rollup import DEFAULT_ROLES, rollup

    roles = st.params.get("roles", list(DEFAULT_ROLES))
    return rollup(
        dfs[0],
        tier=st.params.get("tier", "1m"),
        key=st.params.get("key", "conv_id"),
        ts=st.params.get("ts", "ts"),
        role_values=roles if roles != "auto" else None,
        tool_values=st.params.get("tools"),
        with_sketches=bool(st.params.get("sketches", False)),
    )


def _op_cascade(dfs, st):
    from gmql_spark.operators.rollup import cascade_rollup

    return cascade_rollup(dfs[0], st.params["tier"], key=st.params.get("key", "conv_id"))


def _op_gapfill(dfs, st):
    from gmql_spark.operators.gapfill import gapfill

    return gapfill(
        dfs[0],
        tier=st.params.get("tier", "1m"),
        key=st.params.get("key", "conv_id"),
        value_col=st.params.get("value", "turn_count"),
        interp_col=st.params.get("interp"),
    )


_SORT_RE = re.compile(
    r"^(?P<expr>.+?)\s+(?P<dir>asc|desc)"
    r"(?:\s+nulls\s+(?P<nulls>first|last))?\s*$",
    re.I | re.S,
)


def _sort_exprs(by) -> list:
    """Order specs -> Columns WITH their sort direction applied.

    ``F.expr('value desc')`` parses as ``value AS desc`` (an alias, per
    SQL's bare-alias rule) — NOT a descending sort — so the trailing
    ``asc``/``desc`` (+ ``nulls first|last``) must be peeled off here
    and applied as Column methods. Caught by the full-board GSL round
    trip (tests/test_dsl_board.py): TOPK/ORDER scripts silently ranked
    ascending before this."""
    out = []
    for e in (by if isinstance(by, list) else [by]):
        m = _SORT_RE.match(str(e).strip())
        if not m:
            out.append(F.expr(str(e).strip()))
            continue
        c = F.expr(m.group("expr"))
        desc = m.group("dir").lower() == "desc"
        nulls = (m.group("nulls") or "").lower()
        if desc:
            c = {"first": c.desc_nulls_first, "last": c.desc_nulls_last}.get(
                nulls, c.desc
            )()
        else:
            c = {"first": c.asc_nulls_first, "last": c.asc_nulls_last}.get(
                nulls, c.asc
            )()
        out.append(c)
    return out


def _op_topk(dfs, st):
    from gmql_spark.operators.order import topg_per_key, topk_per_key

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    order = _sort_exprs(st.params.get("by", "ts"))
    groups = st.params.get("group")
    if groups:
        groups = groups if isinstance(groups, list) else [groups]
        return topg_per_key(dfs[0], keys, groups, order, int(st.params.get("k", 1)))
    return topk_per_key(dfs[0], keys, order, int(st.params.get("k", 1)))


def _op_union(dfs, st):
    a = dfs[0].withColumn("_provenance", F.lit("left"))
    b = dfs[1].withColumn("_provenance", F.lit("right"))
    return a.unionByName(b, allowMissingColumns=True)


def _op_difference(dfs, st):
    from gmql_spark.operators.difference import temporal_difference

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    return temporal_difference(
        dfs[0], dfs[1], keys=keys,
        max_distance_s=float(st.params.get("dist", 0.0)),
        exact=bool(st.params.get("exact", False)),
    )


def _op_asof(dfs, st):
    from gmql_spark.operators.join import asof_join

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    cols = st.params.get("cols", [])
    return asof_join(
        dfs[0], dfs[1], keys=keys, ts=st.params.get("ts", "ts"),
        right_cols=cols if isinstance(cols, list) else [cols],
        direction=st.params.get("direction", "backward"),
        tolerance_s=float(st.params["tolerance"]) if "tolerance" in st.params else None,
        salt_bucket_s=float(st.params["salt"]) if "salt" in st.params else None,
    )


def _op_nearest(dfs, st):
    from gmql_spark.operators.join import nearest_k

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    cols = st.params.get("cols", [])
    return nearest_k(
        dfs[0], dfs[1], keys=keys, k=int(st.params.get("k", 1)),
        max_distance_s=float(st.params.get("dist", 3600.0)),
        left_id=st.params.get("id", "event_id"),
        right_cols=cols if isinstance(cols, list) else [cols],
        direction=st.params.get("direction", "both"),
        min_distance_s=(
            float(st.params["min_dist"]) if "min_dist" in st.params else None
        ),
    )


def _op_condjoin(dfs, st):
    """CONDJOIN — GMQL's ordered JoinQuadruple condition chain
    (``JoinQuadruple.scala:7-15``) as a statement: ``conditions`` is a
    list of atoms like ``'dist_less 1800'``, ``'dist_greater 300'``,
    ``'min_distance 1'``, ``'upstream'``, ``'downstream'``, applied in
    order (pre-filter / tie-inclusive nearest / post-filter split,
    ``GenometricJoin.scala:65-74``)."""
    from gmql_spark.operators.join import join_conditions

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    conds = st.params.get("conditions", [])
    conds = conds if isinstance(conds, list) else [conds]
    parsed: list = []
    for c in conds:
        parts = str(c).split()
        if len(parts) == 1:
            parsed.append(parts[0])
        elif parts[0] == "min_distance":
            parsed.append((parts[0], int(parts[1])))
        else:
            parsed.append((parts[0], float(parts[1])))
    cols = st.params.get("cols", [])
    return join_conditions(
        dfs[0], dfs[1], keys=keys, conditions=parsed,
        left_id=st.params.get("id", "event_id"),
        right_cols=cols if isinstance(cols, list) else [cols],
    )


def _op_ann(dfs, st):
    """ANN — approximate/exact nearest-neighbor top-k over embedding
    columns: ``method: 'brute'`` (broadcast exact baseline) or ``'lsh'``
    (random-hyperplane buckets, the scale path). Inputs: queries,
    corpus."""
    from gmql_spark.operators.similarity import cosine_topk, lsh_bucket_topk

    k = int(st.params.get("k", 5))
    idc = st.params.get("id", "vec_id")
    vc = st.params.get("vec", "embedding")
    method = st.params.get("method", "brute")
    if method == "brute":
        return cosine_topk(dfs[0], dfs[1], k=k, id_col=idc, vec_col=vc)
    if method == "lsh":
        return lsh_bucket_topk(
            dfs[0], dfs[1], k=k, id_col=idc, vec_col=vc,
            n_planes=int(st.params.get("planes", 16)),
            n_tables=int(st.params.get("tables", 4)),
            # None -> inferred from the corpus embedding width (a wrong
            # explicit dim silently yields zero matches)
            dim=int(st.params["dim"]) if "dim" in st.params else None,
            seed=int(st.params.get("seed", 7)),
        )
    raise GSLError(f"line {st.pos}: ANN method must be brute|lsh, got {method!r}")


def _op_ivf(dfs, st):
    """IVF — centroid-table ANN (3 inputs: queries, corpus, centroids):
    the broadcast-hash-join cell assignment + n_probe re-rank scale
    path; the centroid table is a first-class variable so a trained
    index loads/joins like any other dataset."""
    from gmql_spark.operators.similarity import ivf_topk

    return ivf_topk(
        dfs[0], dfs[1], dfs[2],
        k=int(st.params.get("k", 5)),
        n_probe=int(st.params.get("n_probe", 2)),
        id_col=st.params.get("id", "vec_id"),
        vec_col=st.params.get("vec", "embedding"),
    )


def _op_train(dfs, st):
    """TRAIN — sampled k-means IVF centroid trainer (1 input =
    embeddings table) -> a (cell, centroid) table the 3-input ``IVF``
    statement consumes: ``C = TRAIN emb cells:256 seed:0``."""
    from gmql_spark.operators.similarity import (
        centroids_to_table,
        train_ivf_centroids,
    )

    cen = train_ivf_centroids(
        dfs[0],
        n_cells=int(st.params.get("cells", 8)),
        id_col=st.params.get("id", "vec_id"),
        vec_col=st.params.get("vec", "embedding"),
        sample_cap=int(st.params.get("cap", 100_000)),
        seed=int(st.params.get("seed", 0)),
        n_iters=int(st.params.get("iters", 20)),
    )
    return centroids_to_table(dfs[0].sparkSession, cen)


def _op_join(dfs, st):
    from gmql_spark.operators.join import interval_join

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    wc = st.params.get("wildcard", [])
    return interval_join(
        dfs[0], dfs[1], keys=keys,
        max_distance_s=float(st.params.get("dist", 0.0)),
        bucket_s=float(st.params.get("bucket", 3600.0)),
        builder=st.params.get("builder", "both"),
        distinct=bool(st.params.get("distinct", False)),
        min_distance_s=(
            float(st.params["min_dist"]) if "min_dist" in st.params else None
        ),
        wildcard_keys=wc if isinstance(wc, list) else [wc],
    )


def _op_cover(dfs, st):
    from gmql_spark.operators.cover import (
        accumulation,
        cover,
        cover_jaccard,
        flat_cover,
        summits,
    )

    variant = st.op.lower() if st.op != "COVER" else st.params.get("variant", "cover")
    fns = {
        "cover": cover, "histogram": accumulation, "accumulation": accumulation,
        "summit": summits, "summits": summits, "flat": flat_cover,
        "jaccard": cover_jaccard,
    }
    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    kw = dict(
        keys=keys,
        start_ts=st.params.get("start", "start_ts"),
        end_ts=st.params.get("end", "end_ts"),
    )
    fn = fns[variant]
    if fn in (cover, flat_cover, cover_jaccard):
        mn = st.params.get("min", 1)
        kw["min_acc"] = mn if isinstance(mn, str) else int(mn)
        if "max" in st.params:
            mx = st.params["max"]
            kw["max_acc"] = mx if isinstance(mx, str) else int(mx)
        if "samples" in st.params:
            kw["n_samples"] = int(st.params["samples"])
    return fn(dfs[0], **kw)


def _op_dedup(dfs, st):
    from gmql_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    mode = st.params.get("mode", "exact")
    idc = st.params.get("id", "doc_id")
    txt = st.params.get("text", "text")
    if mode == "exact":
        return exact_dedup(dfs[0], id_col=idc, text_col=txt)
    if mode == "minhash":
        return minhash_lsh_pairs(
            dfs[0], id_col=idc, text_col=txt,
            num_perm=int(st.params.get("perms", 64)),
            bands=int(st.params.get("bands", 16)),
            threshold=float(st.params.get("threshold", 0.5)),
            n=int(st.params.get("n", 3)),
            hash_fn=st.params.get("hash", "xxhash64"),
            # hot-bucket guard (cap:) — see minhash_lsh_pairs docstring
            max_bucket_size=(
                int(st.params["cap"]) if "cap" in st.params else None
            ),
        )
    if mode == "ngram":
        return ngram_jaccard_pairs(
            dfs[0], id_col=idc, text_col=txt,
            threshold=float(st.params.get("threshold", 0.5)),
            n=int(st.params.get("n", 3)),
            max_doc_count=(
                int(st.params["cap"]) if "cap" in st.params else None
            ),
        )
    if mode == "simhash":
        return simhash_near_pairs(
            dfs[0], id_col=idc, text_col=txt,
            max_hamming=int(st.params.get("hamming", 3)),
            hash_fn=st.params.get("hash", "xxhash64"),
        )
    raise GSLError(f"line {st.pos}: DEDUP mode must be exact|minhash|ngram|simhash")


def _op_components(dfs, st):
    """Duplicate-cluster grouping over a pair table (COMPONENTS, first
    input = near-dup pairs, e.g. a DEDUP(mode: 'minhash') result; an
    optional second input is the singleton-nodes table — one id column
    named like ``a`` — adding isolated docs as their own components)."""
    from gmql_spark.operators.dedup import dedup_components

    return dedup_components(
        dfs[0],
        nodes=dfs[1] if len(dfs) > 1 else None,
        a=st.params.get("a", "id_a"),
        b=st.params.get("b", "id_b"),
        max_rounds=int(st.params.get("max_rounds", 50)),
        method=st.params.get("method", "label"),
    )


def _op_compress(dfs, st):
    from gmql_spark.compression.gorilla import compress_series

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    return compress_series(
        dfs[0], keys=keys,
        ts_col=st.params.get("ts", "window_start"),
        value_col=st.params.get("value", "turn_count"),
    )


def _op_decompress(dfs, st):
    """DECOMPRESS — unpack Gorilla streams; with ``start:``/``end:`` the
    zone-map range read (streams pruned on ts_min_us/ts_max_us before
    any decode)."""
    import datetime as _dt

    from gmql_spark.compression.gorilla import decompress_series, read_series_range

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    if "start" in st.params or "end" in st.params:
        if not ("start" in st.params and "end" in st.params):
            raise GSLError(f"line {st.pos}: DECOMPRESS needs both start: and end:")
        return read_series_range(
            dfs[0],
            _dt.datetime.fromisoformat(str(st.params["start"])),
            _dt.datetime.fromisoformat(str(st.params["end"])),
            keys=keys,
        )
    return decompress_series(dfs[0], keys=keys)


def _op_split(dfs, st):
    """SPLIT — deterministic train/val/test assignment by stable id
    hash. Reserved params: ``id``/``seed``/``out``; every other param is
    a named split weight, boundaries cumulative in statement order."""
    from gmql_spark.operators.sampling import deterministic_split

    reserved = ("id", "seed", "out")
    weights = {k: float(v) for k, v in st.params.items() if k not in reserved}
    return deterministic_split(
        dfs[0],
        weights,
        id_col=st.params.get("id", "doc_id"),
        seed=st.params.get("seed", "split"),
        out_col=st.params.get("out", "split"),
    )


def _op_sample(dfs, st):
    """SAMPLE — stable fractional subset by id hash (nested fractions
    at one seed are supersets of smaller ones)."""
    from gmql_spark.operators.sampling import sample_fraction

    return sample_fraction(
        dfs[0],
        float(st.params.get("fraction", 0.1)),
        id_col=st.params.get("id", "doc_id"),
        seed=st.params.get("seed", "sample"),
    )


def _op_sessionize(dfs, st):
    from gmql_spark.operators.session import sessionize

    order = st.params.get("order", [])
    return sessionize(
        dfs[0],
        key=st.params.get("key", "conv_id"),
        ts=st.params.get("ts", "ts"),
        gap_timeout_s=float(st.params.get("gap", 1800.0)),
        order=order if isinstance(order, list) else [order],
        salt_bucket_s=float(st.params["salt"]) if "salt" in st.params else None,
    )


def _op_group(dfs, st):
    """GROUP (GMQL first-class GROUP statement,
    ``GmqlParsers.scala``/``Translator.scala:311-362``): group by
    attribute columns and aggregate; defaults to the reference's
    duplicate-count when no aggregate is given. ``having`` filters the
    aggregated rows."""
    by = st.params.get("by", ["conv_id"])
    by = by if isinstance(by, list) else [by]
    aggs = [
        F.expr(str(v)).alias(k)
        for k, v in st.params.items()
        if k not in ("by", "having")
    ]
    if not aggs:
        aggs = [F.count(F.lit(1)).alias("n")]
    out = dfs[0].groupBy(*by).agg(*aggs)
    if "having" in st.params:
        out = out.filter(str(st.params["having"]))
    return out


def _op_order(dfs, st):
    """ORDER (GMQL ORDER statement with Top/TopP/TopG options,
    ``OrderRD.scala:23-168``): appends ``order_pos`` (or ``order_pct``)
    within ``key`` groups; ``k`` keeps Top(k), ``percent`` keeps TopP,
    ``group`` ranks per value-group within each key (TopG). Without
    ``key`` the ranking is global — GMQL's driver sort recast as a
    single-partition window (fine for post-aggregate row counts; give a
    key for raw-scale data)."""
    from gmql_spark.operators.order import (
        rank_per_key,
        top_percent_per_key,
        topg_per_key,
        topk_per_key,
    )

    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    order = _sort_exprs(st.params.get("by", "ts"))
    if "percent" in st.params:
        return top_percent_per_key(dfs[0], keys, order, float(st.params["percent"]))
    if "group" in st.params:
        groups = st.params["group"]
        groups = groups if isinstance(groups, list) else [groups]
        return topg_per_key(dfs[0], keys, groups, order, int(st.params.get("k", 1)))
    if "k" in st.params:
        return topk_per_key(dfs[0], keys, order, int(st.params["k"]))
    return rank_per_key(dfs[0], keys, order)


def _op_map(dfs, st):
    """MAP (GenometricMap over arbitrary intervals): aggregate the
    second input's events into the first input's intervals; zero-filled
    counts for empty refs. Aggregate params are ``name: 'expr'`` pairs
    over the joined event columns."""
    from gmql_spark.operators.map_agg import map_intervals

    reserved = ("key", "start", "end", "ts", "bucket")
    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    aggs = [
        F.expr(str(v)).alias(k) for k, v in st.params.items() if k not in reserved
    ]
    return map_intervals(
        dfs[0], dfs[1], aggs=aggs, keys=keys,
        ref_start=st.params.get("start", "start_ts"),
        ref_end=st.params.get("end", "end_ts"),
        ev_ts=st.params.get("ts", "ts"),
        bucket_s=float(st.params.get("bucket", 3600.0)),
    )


def _op_semijoin(dfs, st):
    """SEMIJOIN (SemiJoinMD.scala:20-80): keep first-input rows whose
    key exists (``negate: false``) / does not exist (``negate: true``)
    in the second input — left_semi / left_anti, never materializing the
    key set on the driver."""
    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    how = "left_anti" if st.params.get("negate", False) else "left_semi"
    return dfs[0].join(dfs[1].select(*keys).distinct(), on=keys, how=how)


def _op_profile(dfs, st):
    """PROFILE (GMQL-Profiler analogue): one-row table profile, or
    per-key stats with ``per_key: true``."""
    from gmql_spark.operators.profile import profile, profile_per_key

    fn = profile_per_key if st.params.get("per_key", False) else profile
    return fn(dfs[0], key=st.params.get("key", "conv_id"), ts=st.params.get("ts", "ts"))


def _op_merge(dfs, st):
    # MergeRD analogue: collapse all keys into a single global series by
    # re-keying to a constant (``MergeRD.scala:27-45``); with ``groupby``
    # the reference's MERGE(groupBy: attr) variant — one merged series
    # per attribute value (re-key to that column's value)
    key = st.params.get("key", "conv_id")
    if "groupby" in st.params:
        return dfs[0].withColumn(key, F.col(str(st.params["groupby"])).cast("string"))
    return dfs[0].withColumn(key, F.lit("_all"))


_WINDOW_RESERVED = ("size", "slide", "key", "ts")


def _agg_exprs(st: Statement, reserved) -> list:
    """name: 'sql-expr' params -> aliased aggregate Columns."""
    return [
        F.expr(str(v)).alias(k) for k, v in st.params.items() if k not in reserved
    ]


def _op_window(dfs, st):
    """WINDOW — generic tumbling/sliding window aggregate over an event
    table (operators.window_agg.window_rollup; the declarative form of
    the reference's bin flatMap, ``GenometricMap71.scala:152-182``):
    ``W = WINDOW(size: '1 minute', key: ['user_id'], n: 'count(1)') E``.
    Reserved params: size/slide/key/ts; every other param is a named
    aggregate SQL expression. No key -> one global series."""
    from gmql_spark.operators.window_agg import window_rollup

    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    aggs = _agg_exprs(st, _WINDOW_RESERVED)
    if not aggs:
        raise GSLError(f"line {st.pos}: WINDOW needs aggregate expressions")
    return window_rollup(
        dfs[0],
        st.params.get("size", "1 minute"),
        aggs=aggs,
        keys=keys,
        ts=st.params.get("ts", "ts"),
        slide=st.params.get("slide"),
    )


def _op_rewindow(dfs, st):
    """REWINDOW — cascade a WINDOW result to a coarser grain with caller
    merge aggregates (``window_agg.window_rollup`` over the finer
    result's ``window_start``; continuous-aggregate step):
    ``H = REWINDOW(size: '1 hour', key: ['user_id'], n: 'sum(n)') M``."""
    from gmql_spark.operators.window_agg import window_rollup

    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    aggs = _agg_exprs(st, _WINDOW_RESERVED)
    if not aggs:
        raise GSLError(f"line {st.pos}: REWINDOW needs aggregate expressions")
    return window_rollup(
        dfs[0], st.params.get("size", "1 hour"), aggs=aggs, keys=keys,
        ts="window_start",
    )


_SERVE_RESERVED = ("frozen", "tier", "key", "ts")
_STITCH_RESERVED = ("start", "end", "key", "ts")
_STREAM_RESERVED = ("size", "watermark", "key", "ts", "dir")


def _op_serve(dfs, st):
    """SERVE — the real-time continuous-aggregate routing
    (realtime.serve_realtime) over IN-SCRIPT frames: closed windows
    from the first input (the tier frame), everything past the frozen
    watermark recomputed from the second input (raw) with the given
    aggregates::

        S = SERVE(frozen: '2024-01-21T00:30:00', tier: '1h',
                  key: ['user_id'], n: 'count(1)') T E;

    Reserved params: frozen (ISO datetime, required) / tier / key / ts;
    every other param is a named aggregate SQL expression for the raw
    recompute, which is projected to the tier frame's exact columns.
    The path-bound twin over materialized warehouse tables is the
    REALTIME statement."""
    import datetime as _dt

    from gmql_spark.operators.window_agg import TIER_DURATION, window_rollup
    from gmql_spark.realtime import serve_realtime

    tier_df, raw = dfs
    tier = st.params.get("tier", "1h")
    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    ts = st.params.get("ts", "ts")
    aggs = _agg_exprs(st, _SERVE_RESERVED)
    if not aggs:
        raise GSLError(f"line {st.pos}: SERVE needs aggregate expressions")
    if "frozen" not in st.params:
        raise GSLError(f"line {st.pos}: SERVE needs frozen: '<ISO datetime>'")
    frozen = _dt.datetime.fromisoformat(str(st.params["frozen"]))

    def recompute(tail):
        return window_rollup(
            tail, TIER_DURATION[tier], aggs=aggs, keys=keys, ts=ts
        ).select(*tier_df.columns)

    return serve_realtime(tier_df, raw, frozen, tier, recompute, ts=ts)


def _op_stitch_range(dfs, st):
    """STITCH over an in-script frame — arbitrary-range aggregate from
    DERIVED tiers (realtime.derive_tier_frames + stitch_range: one
    range-pruned scan, one checkpointed 1m aggregate, 1h/1d cascaded
    from it, ≤7 segment branches)::

        S = STITCH(start: '...', end: '...', key: ['user_id'],
                   n: 'count(1)', merge_n: 'sum(n)') E;

    Named params are the RAW aggregates; each needs a ``merge_<name>``
    partner — the self-composable re-aggregation over tier rows (the
    same raw/merge split as stitch_range). The path-bound form (STITCH
    with fact:/tiers: paths, no input frame) is handled in
    compile_script."""
    import datetime as _dt

    from gmql_spark.realtime import derive_tier_frames, stitch_range

    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    ts = st.params.get("ts", "ts")
    for p in ("start", "end"):
        if p not in st.params:
            raise GSLError(f"line {st.pos}: STITCH needs {p}: '<ISO datetime>'")
    start = _dt.datetime.fromisoformat(str(st.params["start"]))
    end = _dt.datetime.fromisoformat(str(st.params["end"]))
    raw_aggs, merge_aggs = [], []
    raw_names, merge_names = set(), set()
    for k, v in st.params.items():
        if k in _STITCH_RESERVED:
            continue
        if k.startswith("merge_"):
            merge_aggs.append(F.expr(str(v)).alias(k[len("merge_"):]))
            merge_names.add(k[len("merge_"):])
        else:
            raw_aggs.append(F.expr(str(v)).alias(k))
            raw_names.add(k)
    if not raw_aggs:
        raise GSLError(f"line {st.pos}: STITCH needs aggregate expressions")
    if raw_names != merge_names:
        raise GSLError(
            f"line {st.pos}: STITCH raw aggs {sorted(raw_names)} and merge_ "
            f"aggs {sorted(merge_names)} must name the same columns"
        )
    raw_rng, tier_dfs = derive_tier_frames(
        dfs[0], start, end, keys=keys, raw_aggs=raw_aggs, merge_aggs=merge_aggs,
        ts=ts,
    )
    return stitch_range(
        tier_dfs, raw_rng, start, end, keys=keys, raw_aggs=raw_aggs,
        merge_aggs=merge_aggs, ts=ts,
    )


def _op_stream(dfs, st):
    """STREAM — a REAL Structured Streaming drain as a statement
    (streaming.materialize.run_rollup_to_table): the input frame is
    staged, streamed back under availableNow with an event-time
    watermark, the emitted (watermark-closed) windows flow through a
    foreachBatch parquet sink, and the withheld tail past the emitted
    boundary is recomputed batch-side — the same exact lambda split as
    the ``stream_rollup`` gate. EAGER and side-effecting: the drain
    runs when the statement is compiled, into the required ``dir:``
    scratch directory (wiped on entry)::

        S = STREAM(size: '1 minute', watermark: '10 minutes',
                   key: ['user_id'], dir: '/tmp/gsl_stream',
                   n: 'count(1)') E;
    """
    from gmql_spark.operators.window_agg import window_rollup
    from gmql_spark.streaming.materialize import run_rollup_to_table

    src = dfs[0]
    keys = st.params.get("key", [])
    keys = keys if isinstance(keys, list) else [keys]
    ts = st.params.get("ts", "ts")
    size = st.params.get("size", "1 minute")
    aggs = _agg_exprs(st, _STREAM_RESERVED)
    if not aggs:
        raise GSLError(f"line {st.pos}: STREAM needs aggregate expressions")
    if "dir" not in st.params:
        raise GSLError(f"line {st.pos}: STREAM needs dir: '<scratch dir>'")
    # the drain WIPES dir: on entry; materialize._wipe_scratch refuses
    # anything that doesn't look like a fresh/previous scratch layout,
    # so a typo'd data path can never be rmtree'd by a script statement
    try:
        emitted, boundary = run_rollup_to_table(
            src.sparkSession,
            src,
            str(st.params["dir"]),
            size,
            aggs=aggs,
            keys=keys,
            ts=ts,
            watermark=st.params.get("watermark", "10 minutes"),
        )
    except ValueError as e:
        raise GSLError(f"line {st.pos}: STREAM: {e}") from None
    batch = window_rollup(src, size, aggs=aggs, keys=keys, ts=ts)
    tail = (
        batch.filter(F.col("window_end") > F.lit(boundary))
        if boundary is not None
        else batch  # nothing emitted: the whole answer is the tail
    )
    return emitted.select(*tail.columns).unionByName(tail)


def _op_gaps(dfs, st):
    """GAPS — per-key inter-event gap column (rollup.with_gap_seconds:
    gap_s/gap_us since the previous row of the key, integer-us exact)."""
    from gmql_spark.operators.rollup import with_gap_seconds

    order = st.params.get("order", "turn_idx")
    return with_gap_seconds(
        dfs[0],
        key=st.params.get("key", "conv_id"),
        order=order if isinstance(order, list) else [order],
        ts=st.params.get("ts", "ts"),
    )


def _op_percentiles(dfs, st):
    """PERCENTILES — exact per-key percentiles of a value column
    (rollup.exact_percentiles rank+lerp plan; EXTEND/AggregateRD recast).
    ``pcts``/``names`` override the default p50/p95/p99 triple."""
    from gmql_spark.operators.rollup import exact_percentiles

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    kw = {}
    if "pcts" in st.params:
        pcts = st.params["pcts"]
        kw["pcts"] = [float(p) for p in (pcts if isinstance(pcts, list) else [pcts])]
    if "names" in st.params:
        names = st.params["names"]
        kw["names"] = names if isinstance(names, list) else [names]
    return exact_percentiles(
        dfs[0], keys=keys, value=st.params.get("value", "gap_s"), **kw
    )


def _op_hist(dfs, st):
    """HIST — mergeable log₂ histogram sketch rollup (functions.sketches):
    ``from: 'raw'`` (default) buckets a raw value column per window
    (hist_rollup); ``from: 'hist'`` merges a finer HIST result to a
    coarser tier (hist_cascade, exact bucket-count addition)."""
    from gmql_spark.functions.sketches import hist_cascade, hist_rollup

    keys = st.params.get("key", ["conv_id"])
    keys = keys if isinstance(keys, list) else [keys]
    tier = st.params.get("tier", "1m")
    if st.params.get("from", "raw") == "hist":
        return hist_cascade(
            dfs[0], tier, keys=keys, col=st.params.get("col", "lat_hist")
        )
    return hist_rollup(
        dfs[0],
        tier,
        keys=keys,
        value_col=st.params.get("value", "gap_us"),
        ts=st.params.get("ts", "ts"),
        out=st.params.get("col", "lat_hist"),
    )


def _op_textstats(dfs, st):
    """TEXTSTATS — per-document text-analysis profiles
    (operators.textstats): ``what: 'quality' | 'lang' | 'fingerprint' |
    'tokens'`` (quality features / stopword-marker language id / md5
    fingerprint / whitespace + sub-word token counts)."""
    from gmql_spark.operators import textstats as _ts

    what = st.params.get("what", "quality")
    text = st.params.get("text", "text")
    if what == "quality":
        return _ts.quality_features(dfs[0], text_col=text)
    if what == "lang":
        return _ts.language_id(dfs[0], text_col=text)
    if what == "fingerprint":
        return _ts.fingerprint(
            dfs[0], text_col=text, id_col=st.params.get("id", "doc_id")
        )
    if what == "tokens":
        return _ts.token_stats(
            dfs[0], text_col=text, id_col=st.params.get("id", "doc_id")
        )
    raise GSLError(
        f"line {st.pos}: TEXTSTATS what must be quality|lang|fingerprint|tokens"
    )


def _op_nearpairs(dfs, st):
    """NEARPAIRS — embedding-cosine near-duplicate pairs
    (similarity.cosine_near_pairs): ``method: 'brute'`` bounded exact
    baseline or ``'lsh'`` bucketed scale path."""
    from gmql_spark.operators.similarity import cosine_near_pairs

    kw = {}
    for p, cast in (("planes", int), ("tables", int), ("dim", int), ("seed", int)):
        if p in st.params:
            kw["n_" + p if p in ("planes", "tables") else p] = cast(st.params[p])
    return cosine_near_pairs(
        dfs[0],
        float(st.params.get("threshold", 0.5)),
        id_col=st.params.get("id", "vec_id"),
        vec_col=st.params.get("vec", "embedding"),
        method=st.params.get("method", "brute"),
        **kw,
    )


def _op_frames(dfs, st):
    """FRAMES — multimodal frame-sampling plumbing
    (multimodal.sample_frames, pure Catalyst explode)."""
    from gmql_spark.operators.multimodal import sample_frames

    return sample_frames(
        dfs[0],
        every_ms=int(st.params.get("every", 1000)),
        id_col=st.params.get("id", "media_id"),
        duration_col=st.params.get("duration", "duration_ms"),
    )


def _op_joinby(dfs, st):
    """JOINBY — plain attribute equi-join (the reference's meta JoinBy,
    ``MetaJoinMJD2.scala:26-157``, as a statement): ``on`` columns must
    exist on both sides; ``broadcast: true`` hints the second input as
    the small dimension side; ``how`` is any Spark join type."""
    on = st.params.get("on", ["conv_id"])
    on = on if isinstance(on, list) else [on]
    right = dfs[1]
    if st.params.get("broadcast", False):
        right = F.broadcast(right)
    return dfs[0].join(right, on=on, how=st.params.get("how", "inner"))


def _op_canonical(dfs, st):
    """CANONICAL — canonical-document pick per duplicate component
    (dedup.canonical_docs, skew-proof max_by): inputs = docs,
    components(id, component)."""
    from gmql_spark.operators.dedup import canonical_docs

    return canonical_docs(
        dfs[0],
        dfs[1],
        id_col=st.params.get("id", "doc_id"),
        order_col=st.params.get("order"),
    )


# op -> (fn, n_inputs) ≙ the reference's per-operator arity checks
# (``Translator.scala`` check_input_number); a tuple of ints = the
# statement accepts any of those input counts (COMPONENTS' optional
# singleton-nodes table)
OPS: dict[str, tuple] = {
    "SELECT": (_op_select, 1),
    "PROJECT": (_op_project, 1),
    "EXTEND": (_op_extend, 1),
    "ROLLUP": (_op_rollup, 1),
    "CASCADE": (_op_cascade, 1),
    "GAPFILL": (_op_gapfill, 1),
    "TOPK": (_op_topk, 1),
    "UNION": (_op_union, 2),
    "DIFFERENCE": (_op_difference, 2),
    "ASOF": (_op_asof, 2),
    "NEAREST": (_op_nearest, 2),
    "CONDJOIN": (_op_condjoin, 2),
    "ANN": (_op_ann, 2),
    "IVF": (_op_ivf, 3),
    "TRAIN": (_op_train, 1),
    "JACCARD": (_op_cover, 1),
    "JOIN": (_op_join, 2),
    "COVER": (_op_cover, 1),
    "HISTOGRAM": (_op_cover, 1),
    "SUMMIT": (_op_cover, 1),
    "FLAT": (_op_cover, 1),
    "GROUP": (_op_group, 1),
    "ORDER": (_op_order, 1),
    "MAP": (_op_map, 2),
    "PROFILE": (_op_profile, 1),
    "SEMIJOIN": (_op_semijoin, 2),
    "PURGE": (_op_semijoin, 2),
    "DEDUP": (_op_dedup, 1),
    "COMPONENTS": (_op_components, (1, 2)),
    "COMPRESS": (_op_compress, 1),
    "DECOMPRESS": (_op_decompress, 1),
    "MERGE": (_op_merge, 1),
    "SESSIONIZE": (_op_sessionize, 1),
    "SPLIT": (_op_split, 1),
    "SAMPLE": (_op_sample, 1),
    "WINDOW": (_op_window, 1),
    "REWINDOW": (_op_rewindow, 1),
    "SERVE": (_op_serve, 2),
    "STITCH": (_op_stitch_range, 1),  # frame form; path-bound form is a
    # compile_script special case (dispatch on st.inputs)
    "STREAM": (_op_stream, 1),
    "GAPS": (_op_gaps, 1),
    "PERCENTILES": (_op_percentiles, 1),
    "HIST": (_op_hist, 1),
    "TEXTSTATS": (_op_textstats, 1),
    "NEARPAIRS": (_op_nearpairs, 1),
    "FRAMES": (_op_frames, 1),
    "JOINBY": (_op_joinby, 2),
    "CANONICAL": (_op_canonical, 2),
}


def _only_params(st, allowed: Sequence[str]) -> None:
    """Reject a param the path-bound ``st`` does not take (``key:``, say)."""
    extra = sorted(set(st.params) - set(allowed))
    if extra:
        raise GSLError(f"line {st.pos}: {st.op} takes no {', '.join(extra)} param")


@dataclass
class CompiledScript:
    materialized: dict[str, DataFrame] = field(default_factory=dict)
    sinks: dict[str, str | None] = field(default_factory=dict)
    variables: dict[str, DataFrame] = field(default_factory=dict)


def compile_script(
    spark: SparkSession,
    text: str,
    tables: dict[str, DataFrame] | None = None,
) -> CompiledScript:
    """Phase 2 (≙ ``Translator.phase2``): symbol-table walk, arity and
    variable checks, lower each statement via the engine's operator
    functions. ``tables`` pre-binds variables (≙ READ with an in-memory
    dataset, ``IRReadMEMRD``)."""
    symbols: dict[str, DataFrame] = dict(tables or {})
    out = CompiledScript(variables=symbols)
    for st in parse(text):
        if st.op == "MATERIALIZE":
            name = st.inputs[0]
            if name not in symbols:
                raise GSLError(f"line {st.pos}: MATERIALIZE of undefined variable {name!r}")
            out.materialized[name] = symbols[name]
            out.sinks[name] = st.into
            continue
        if st.op == "LOAD":
            from gmql_spark.sources.catalog import read_transcripts

            symbols[st.target] = read_transcripts(spark, st.params["path"])
            continue
        if st.op == "COMPACT":
            # side-effecting maintenance statement: rewrite fragmented
            # partitions; binds the {partition: files_before} report
            from gmql_spark.retention import compact_partitions

            rewritten = compact_partitions(
                spark,
                st.params["path"],
                partition_col=st.params.get("partition", "window_date"),
                min_files=int(st.params.get("min_files", 2)),
            )
            symbols[st.target] = spark.createDataFrame(
                list(rewritten.items()) or [],
                "partition string, files_before int",
            )
            continue
        if st.op == "INGEST":
            # batch ingest: exact-gap append of a source table into the
            # fact table + per-date tier refresh (incremental module)
            from gmql_spark.incremental import append_transcripts, refresh_tiers
            from gmql_spark.sources.catalog import N_BUCKETS_DEFAULT

            src_df = (
                symbols[st.inputs[0]]
                if st.inputs
                else spark.read.parquet(st.params["src"])
            )
            tiers = st.params.get("tiers", ["1m", "1h", "1d"])
            dates = append_transcripts(
                spark, src_df, st.params["fact"],
                n_buckets=int(st.params.get("buckets", N_BUCKETS_DEFAULT)),
            )
            rep = refresh_tiers(
                spark, st.params["fact"], st.params["out"], dates,
                tiers=tiers if isinstance(tiers, list) else [tiers],
            )
            symbols[st.target] = spark.createDataFrame(
                [(t, n) for t, n in rep["rows"].items()],
                "tier string, rows_refreshed long",
            )
            continue
        if st.op == "REALTIME":
            # real-time continuous aggregate: materialized tier + raw
            # tail past the recorded refresh watermark (realtime module)
            import datetime as _dt

            from gmql_spark.realtime import realtime_rollup

            _only_params(st, ("fact", "tiers", "tier", "frozen"))
            frozen = st.params.get("frozen")
            symbols[st.target] = realtime_rollup(
                spark,
                st.params["fact"],
                st.params["tiers"],
                tier=st.params.get("tier", "1h"),
                frozen_until=_dt.datetime.fromisoformat(frozen) if frozen else None,
            )
            continue
        if st.op == "STITCH" and not st.inputs:
            # path-bound form: arbitrary-range transcript aggregate
            # stitched from MATERIALIZED tier tables (the frame form —
            # STITCH over an input symbol with derived tiers — routes
            # through the generic op table, _op_stitch_range)
            import datetime as _dt

            from gmql_spark.realtime import stitch_transcripts

            _only_params(st, ("fact", "tiers", "start", "end", "realtime"))
            symbols[st.target] = stitch_transcripts(
                spark,
                st.params["fact"],
                st.params["tiers"],
                _dt.datetime.fromisoformat(st.params["start"]),
                _dt.datetime.fromisoformat(st.params["end"]),
                realtime=bool(st.params.get("realtime", False)),
            )
            continue
        if st.op == "RETENTION":
            # side-effecting statement (like MATERIALIZE): apply the
            # per-tier expiry policy and bind the expired-partition
            # report as the target variable. policy entries are
            # 'tier=days' / 'tier=none' strings ('1m' is not a valid
            # param key in the grammar).
            from gmql_spark.retention import apply_retention

            pol = {}
            for item in st.params.get("policy", []):
                tier, _, keep = str(item).partition("=")
                pol[tier.strip()] = (
                    None if keep.strip().lower() in ("none", "") else int(keep)
                )
            from datetime import date as _date

            res = apply_retention(
                st.params["warehouse"],
                policy=pol or None,
                as_of=_date.fromisoformat(st.params["as_of"])
                if "as_of" in st.params
                else None,
                dry_run=bool(st.params.get("dry_run", False)),
            )
            rows = [(t, p) for t, ps in res.items() for p in ps] or []
            symbols[st.target] = spark.createDataFrame(
                rows, "tier string, expired_partition string"
            )
            continue
        if st.op not in OPS:
            raise GSLError(f"line {st.pos}: unknown operator {st.op!r}; known: {sorted(OPS)}")
        fn, arity = OPS[st.op]
        arities = arity if isinstance(arity, tuple) else (arity,)
        if len(st.inputs) not in arities:
            raise GSLError(
                f"line {st.pos}: {st.op} takes "
                f"{'/'.join(map(str, arities))} input(s), got {len(st.inputs)}"
            )
        missing = [i for i in st.inputs if i not in symbols]
        if missing:
            raise GSLError(f"line {st.pos}: undefined variable(s) {missing}")
        symbols[st.target] = fn([symbols[i] for i in st.inputs], st)
    if not out.materialized:
        raise GSLError("script has no MATERIALIZE statement")
    return out


def run_script(
    spark: SparkSession, text: str, tables: dict[str, DataFrame] | None = None
) -> dict[str, int]:
    """Compile and execute: write each materialized variable to its INTO
    path (parquet) or count it. Returns rows per materialized name."""
    compiled = compile_script(spark, text, tables=tables)
    results: dict[str, int] = {}
    for name, df in compiled.materialized.items():
        into = compiled.sinks[name]
        if into:
            df.write.mode("overwrite").parquet(into)
            results[name] = spark.read.parquet(into).count()
        else:
            results[name] = df.count()
    return results
