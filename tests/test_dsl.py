"""GSL script language: parse errors, phase-2 checks, and end-to-end
equivalence with direct operator calls (the script surface must be sugar
over the same plans, ``Translator.scala:311-393`` recast)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.plans.dsl import GSLError, compile_script, parse, run_script


@pytest.fixture(scope="module")
def raw(spark):
    return datagen.transcripts_spark(spark, n_conv=40)


def test_parse_shapes():
    stmts = parse(
        """
        # comment
        T = LOAD '/tmp/x';
        U = SELECT(role = 'user') T;
        R = ROLLUP(tier: '1m', key: 'conv_id') U;
        MATERIALIZE R INTO '/tmp/out';
        """
    )
    ops = [s.op for s in stmts]
    assert ops == ["LOAD", "SELECT", "ROLLUP", "MATERIALIZE"]
    assert stmts[2].params == {"tier": "1m", "key": "conv_id"}
    assert stmts[3].into == "/tmp/out"


def test_phase2_errors(spark, raw):
    with pytest.raises(GSLError, match="undefined variable"):
        compile_script(spark, "R = ROLLUP(tier: '1m') NOPE; MATERIALIZE R;")
    with pytest.raises(GSLError, match="takes 2"):
        compile_script(spark, "U = UNION() T; MATERIALIZE U;", tables={"T": raw})
    with pytest.raises(GSLError, match="no MATERIALIZE"):
        compile_script(spark, "U = SELECT(role = 'user') T;", tables={"T": raw})
    with pytest.raises(GSLError, match="unknown operator"):
        compile_script(spark, "U = FROBNICATE() T; MATERIALIZE U;", tables={"T": raw})


def test_script_equals_direct_calls(spark, raw):
    """A select→rollup→cascade script must produce the identical frame
    as composing the operator functions by hand."""
    from gmql_spark.operators.rollup import cascade_rollup, rollup

    script = """
        U = SELECT(role = 'assistant') T;
        R = ROLLUP(tier: '1m') U;
        H = CASCADE(tier: '1h') R;
        MATERIALIZE H;
    """
    compiled = compile_script(spark, script, tables={"T": raw})
    got = compiled.materialized["H"].toPandas()

    exp = cascade_rollup(
        rollup(raw.filter(F.col("role") == "assistant"), "1m"), "1h"
    ).toPandas()
    key = ["conv_id", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp[got.columns], check_dtype=False)


def test_script_two_input_ops_and_run(spark, raw, tmp_path):
    """DIFFERENCE/ASOF/NEAREST/JOIN two-input statements + MATERIALIZE
    INTO round-trip."""
    a = raw.filter(F.col("role") == "user").select(
        "conv_id", "ts", F.monotonically_increasing_id().alias("event_id")
    )
    b = raw.filter(F.col("role") == "assistant").select("conv_id", "ts")
    script = f"""
        D = DIFFERENCE(key: 'conv_id', dist: 5.0) A B;
        N = NEAREST(key: 'conv_id', k: 2, dist: 600.0, id: 'event_id') A B;
        MATERIALIZE D INTO '{tmp_path}/d';
        MATERIALIZE N;
    """
    res = run_script(spark, script, tables={"A": a, "B": b})
    assert set(res) == {"D", "N"} and all(v >= 0 for v in res.values())
    assert spark.read.parquet(f"{tmp_path}/d").count() == res["D"]


def test_script_cover_and_topg(spark, raw):
    script = """
        IV = PROJECT(keep: ['conv_id'], start_ts: 'ts', end_ts: 'ts + interval 300 seconds') T;
        C = COVER(min: 2) IV;
        K = TOPK(key: 'conv_id', group: 'role', by: ['ts desc'], k: 1) T;
        MATERIALIZE C;
        MATERIALIZE K;
    """
    compiled = compile_script(spark, script, tables={"T": raw})
    assert compiled.materialized["C"].columns == ["cover_start", "cover_end", "acc_max"]
    k = compiled.materialized["K"]
    # one row per (conv, role) present
    assert k.groupBy("conv_id", "role").count().filter("count > 1").count() == 0


def test_comment_hash_inside_quotes_preserved(spark, raw, tmp_path):
    """'#' inside a quoted literal must survive comment stripping."""
    p = str(tmp_path / "run#3")
    stmts = parse(f"T = LOAD '{p}';  # trailing comment\nMATERIALIZE T;")
    assert stmts[0].params["path"] == p
    stmts2 = parse("U = SELECT(role = '#tool') T; MATERIALIZE U;")
    assert "#tool" in stmts2[0].raw_params


def test_group_statement_equals_direct(spark, raw):
    script = """
        G = GROUP(by: ['role'], n: 'count(*)', first_ts: 'min(ts)',
                  having: 'n > 5') T;
        MATERIALIZE G;
    """
    got = compile_script(spark, script, tables={"T": raw}).materialized["G"]
    exp = (
        raw.groupBy("role")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("min(ts)").alias("first_ts"))
        .filter("n > 5")
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # default aggregate = duplicate count
    g2 = compile_script(
        spark, "G = GROUP(by: ['conv_id', 'role']) T; MATERIALIZE G;", tables={"T": raw}
    ).materialized["G"]
    assert g2.columns == ["conv_id", "role", "n"]


def test_order_statement_variants(spark, raw):
    from gmql_spark.operators.order import top_percent_per_key, topk_per_key

    got = compile_script(
        spark,
        "O = ORDER(key: 'conv_id', by: ['ts desc'], k: 2) T; MATERIALIZE O;",
        tables={"T": raw},
    ).materialized["O"]
    exp = topk_per_key(raw, ["conv_id"], [F.col("ts").desc()], 2)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    gotp = compile_script(
        spark,
        "O = ORDER(key: 'conv_id', by: ['ts'], percent: 0.1) T; MATERIALIZE O;",
        tables={"T": raw},
    ).materialized["O"]
    expp = top_percent_per_key(raw, ["conv_id"], [F.expr("ts")], 0.1)
    assert gotp.exceptAll(expp).count() == 0 and expp.exceptAll(gotp).count() == 0

    # global rank (no key): order_pos is a permutation of 1..n
    glob = compile_script(
        spark,
        "O = ORDER(by: ['ts', 'conv_id', 'turn_idx']) T; MATERIALIZE O;",
        tables={"T": raw},
    ).materialized["O"]
    n = raw.count()
    assert glob.agg(F.min("order_pos"), F.max("order_pos")).collect()[0] == (1, n)


def test_project_interval_rewrite_sugar(spark, raw):
    from gmql_spark.operators.project import project_intervals

    iv = raw.select(
        "conv_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 10 minutes")).alias("end_ts"),
    )
    script = """
        P = PROJECT(start: 'start_ts - interval 5 minutes',
                    end: 'start_ts + interval 5 minutes') IV;
        MATERIALIZE P;
    """
    got = compile_script(spark, script, tables={"IV": iv}).materialized["P"]
    exp = project_intervals(
        iv,
        F.expr("start_ts - interval 5 minutes"),
        F.expr("start_ts + interval 5 minutes"),
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    with pytest.raises(GSLError, match="BOTH start and end"):
        compile_script(
            spark, "P = PROJECT(start: 'ts') T; MATERIALIZE P;", tables={"T": raw}
        )


def test_retention_statement(spark, raw, tmp_path):
    """RETENTION lowers to retention.apply_retention: expired
    event_date partitions are deleted per the tier policy."""
    from gmql_spark.sources.catalog import write_transcripts

    wh = str(tmp_path / "wh")
    write_transcripts(raw, f"{wh}/transcripts", n_buckets=2)
    dates = sorted(
        r.d for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    as_of = dates[-1]
    script = f"""
        R = RETENTION(warehouse: '{wh}', policy: ['raw=3'], as_of: '{as_of}');
        MATERIALIZE R;
    """
    rep = compile_script(spark, script, tables={}).materialized["R"].toPandas()
    assert (rep["tier"] == "raw").all() and len(rep) > 0
    left_dates = {
        r.event_date for r in
        spark.read.parquet(f"{wh}/transcripts").select("event_date").distinct().collect()
    }
    import datetime as _dt
    horizon = as_of - _dt.timedelta(days=3)
    assert all(d >= horizon for d in left_dates)


def test_map_and_semijoin_statements(spark, raw):
    from gmql_spark.operators.map_agg import map_intervals

    iv = raw.filter("role = 'user'").select(
        "conv_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 10 minutes")).alias("end_ts"),
    ).distinct()
    script = """
        E = SELECT(role = 'assistant') T;
        M = MAP(key: 'conv_id', n_chars: 'sum(length(text))') IV E;
        MATERIALIZE M;
    """
    got = compile_script(spark, script, tables={"T": raw, "IV": iv}).materialized["M"]
    exp = map_intervals(
        iv, raw.filter("role = 'assistant'"),
        aggs=[F.expr("sum(length(text))").alias("n_chars")], keys=["conv_id"],
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    sj = compile_script(
        spark,
        "W = SELECT(tool = 'write_file') T; S = SEMIJOIN(key: 'conv_id') T W; MATERIALIZE S;",
        tables={"T": raw},
    ).materialized["S"]
    writers = raw.filter("tool = 'write_file'").select("conv_id").distinct()
    exp_sj = raw.join(writers, "conv_id", "left_semi")
    assert sj.exceptAll(exp_sj).count() == 0 and exp_sj.exceptAll(sj).count() == 0
    # negate = PURGE semantics (left_anti)
    pg = compile_script(
        spark,
        "W = SELECT(tool = 'write_file') T; P = PURGE(key: 'conv_id', negate: true) T W; MATERIALIZE P;",
        tables={"T": raw},
    ).materialized["P"]
    exp_pg = raw.join(writers, "conv_id", "left_anti")
    assert pg.exceptAll(exp_pg).count() == 0 and exp_pg.exceptAll(pg).count() == 0


def test_merge_groupby_variant(spark, raw):
    """MERGE(groupby: attr) = the reference's grouped merge: one merged
    series per attribute value (re-key to the attr), feeding the same
    downstream rollup as the global merge."""
    script = """
        M = MERGE(groupby: 'role') T;
        R = ROLLUP(tier: '1h') M;
        MATERIALIZE R;
    """
    got = compile_script(spark, script, tables={"T": raw}).materialized["R"]
    from gmql_spark.operators.rollup import rollup

    exp = rollup(raw.withColumn("conv_id", F.col("role").cast("string")), "1h")
    assert got.count() == exp.count()
    assert {r.conv_id for r in got.select("conv_id").distinct().collect()} == {
        r.role for r in raw.select("role").distinct().collect()
    }


def test_maintenance_statements(spark, raw, tmp_path):
    """INGEST (exact-gap append + tier refresh), PROFILE, and COMPACT as
    script statements — the full maintenance story scriptable."""
    import os

    fact = str(tmp_path / "wh_fact")
    out = str(tmp_path / "wh_tiers")
    script = f"""
        I = INGEST(fact: '{fact}', out: '{out}', buckets: 4) T;
        P = PROFILE(per_key: false) T;
        MATERIALIZE I; MATERIALIZE P;
    """
    compiled = compile_script(spark, script, tables={"T": raw})
    rep = {r.tier: r.rows_refreshed for r in compiled.materialized["I"].collect()}
    assert set(rep) == {"1m", "1h", "1d"} and all(v > 0 for v in rep.values())
    from gmql_spark.operators.rollup import rollup_all_tiers

    exp = rollup_all_tiers(raw)
    for tier in ("1m", "1h", "1d"):
        got_n = spark.read.parquet(f"{out}/rollup_{tier}").count()
        assert got_n == exp[tier].count(), tier
    prof = compiled.materialized["P"].collect()[0]
    assert prof.n_rows == raw.count()

    # fragment a tier partition, then COMPACT it from a script
    t1m = f"{out}/rollup_1m"
    parts = [d for d in os.listdir(t1m) if d.startswith("window_date=")]
    frag_before = {
        d: sum(1 for f in os.listdir(os.path.join(t1m, d)) if f.endswith(".parquet"))
        for d in parts
    }
    if not any(v > 2 for v in frag_before.values()):
        df = spark.read.parquet(t1m).repartition(6)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(mode_key)
        spark.conf.set(mode_key, "dynamic")
        try:
            df.write.mode("overwrite").partitionBy("window_date").parquet(t1m)
        finally:
            spark.conf.set(mode_key, old_mode)
    c = compile_script(
        spark,
        f"C = COMPACT(path: '{t1m}', min_files: 2); MATERIALIZE C;",
        tables={},
    ).materialized["C"]
    assert c.count() > 0
    frag_after = {
        d: sum(1 for f in os.listdir(os.path.join(t1m, d)) if f.endswith(".parquet"))
        for d in os.listdir(t1m) if d.startswith("window_date=")
    }
    # nothing is left above the min_files threshold (<=2 untouched by design)
    assert all(v <= 2 for v in frag_after.values())


def test_realtime_statement(spark, raw, tmp_path):
    """REALTIME lowers to realtime.realtime_rollup: stale tiers + raw
    tail == the direct full rollup, from a script."""
    from gmql_spark.incremental import append_transcripts, refresh_tiers
    from gmql_spark.operators.rollup import rollup

    fact, out = str(tmp_path / "rt_fact"), str(tmp_path / "rt_tiers")
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = lo + (hi - lo) / 2
    b1 = raw.filter(F.col("ts") <= F.lit(cut))
    b2 = raw.filter(F.col("ts") > F.lit(cut))
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    append_transcripts(spark, b2, fact, n_buckets=4)  # tiers now stale

    got = compile_script(
        spark,
        f"R = REALTIME(fact: '{fact}', tiers: '{out}', tier: '1h'); MATERIALIZE R;",
        tables={},
    ).materialized["R"]
    exp = rollup(raw, "1h")
    cols = ["conv_id", "window_start", "turn_count", "latency_cnt", "latency_sum_us"]
    g = got.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    e = exp.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e)


@pytest.mark.parametrize(
    "stmt",
    [
        "REALTIME(fact: 'f', tiers: 't', key: 'user_id')",
        "REALTIME(fact: 'f', tiers: 't', tier: '1h', ts: 'event_ts')",
        "STITCH(fact: 'f', tiers: 't', start: '2026-01-01T00:00:00', "
        "end: '2026-01-02T00:00:00', key: 'user_id')",
    ],
)
def test_path_bound_statements_take_no_column_params(spark, stmt):
    """The fact table's key and event time belong to the table layer: a
    path-bound REALTIME or STITCH that names them is refused, not
    silently run over ``conv_id``/``ts``."""
    with pytest.raises(GSLError, match="takes no (key|ts) param"):
        compile_script(spark, f"R = {stmt}; MATERIALIZE R;")


def test_run_gsl_builds_the_engine_session(spark, raw, tmp_path, monkeypatch):
    """``run_gsl.py`` gets its session from ``session.get_spark``, so a
    spark-submit run has the engine's settings (codegen cache size,
    DataFrame debugging off, Kryo)."""
    import run_gsl
    from gmql_spark import session

    calls = []

    def recording_get_spark(*args, **kw):
        calls.append((args, kw))
        return spark

    monkeypatch.setattr(session, "get_spark", recording_get_spark)
    path = str(tmp_path / "t")
    raw.write.parquet(path)
    assert run_gsl.main(["--inline", f"T = LOAD '{path}'; MATERIALIZE T;"]) == 0
    assert calls == [((), {"app_name": "gmql-spark-gsl"})]


def test_rollup_sketches_param(spark, raw):
    """ROLLUP(sketches: true) carries the mergeable sketch columns, and
    CASCADE auto-merges them (column-presence driven)."""
    compiled = compile_script(
        spark,
        """
        M = ROLLUP(tier: '1m', sketches: true) T;
        H = CASCADE(tier: '1h') M;
        MATERIALIZE H;
        """,
        tables={"T": raw},
    )
    h = compiled.materialized["H"]
    assert {"lat_hist", "tool_hll"} <= set(h.columns)
    from gmql_spark.functions.sketches import hist_rollup
    from gmql_spark.operators.rollup import with_gap_seconds

    exp = hist_rollup(with_gap_seconds(raw), "1h")
    got_long = (
        h.select("conv_id", "window_start", F.explode("lat_hist").alias("b", "n"))
        .toPandas().sort_values(["conv_id", "window_start", "b"]).reset_index(drop=True)
    )
    exp_long = (
        exp.select("conv_id", "window_start", F.explode("lat_hist").alias("b", "n"))
        .toPandas().sort_values(["conv_id", "window_start", "b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_long, exp_long)


def test_components_statement(spark):
    """COMPONENTS groups a pair table into duplicate clusters (min-id
    labels), script == direct call."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    got = compile_script(
        spark, "C = COMPONENTS() P; MATERIALIZE C;", tables={"P": pairs}
    ).materialized["C"]
    assert {(r.id, r.component) for r in got.collect()} == {
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7),
    }


def test_script_condjoin_equals_direct(spark, raw):
    """CONDJOIN statement == join_conditions call (ring + nearest-beyond
    chains), and min_dist on NEAREST == the min_distance_s parameter."""
    from gmql_spark.operators.join import join_conditions, nearest_k

    a = raw.filter(F.col("role") == "user").select(
        "conv_id", "ts", F.monotonically_increasing_id().alias("event_id")
    )
    b = raw.filter(F.col("role") == "assistant").select("conv_id", "ts")
    script = """
        R = CONDJOIN(key: 'conv_id',
                     conditions: ['dist_less 600', 'dist_greater 30', 'upstream'],
                     id: 'event_id') A B;
        N = CONDJOIN(key: 'conv_id',
                     conditions: ['dist_less 600', 'min_distance 1', 'downstream'],
                     id: 'event_id') A B;
        M = NEAREST(key: 'conv_id', k: 1, dist: 600.0, min_dist: 30.0,
                    id: 'event_id') A B;
        MATERIALIZE R; MATERIALIZE N; MATERIALIZE M;
    """
    compiled = compile_script(spark, script, tables={"A": a, "B": b})

    def pdf(df):
        return (
            df.toPandas()
            .sort_values(list(df.columns))
            .reset_index(drop=True)
        )

    direct_r = join_conditions(
        a, b, keys=["conv_id"],
        conditions=[("dist_less", 600.0), ("dist_greater", 30.0), "upstream"],
        left_id="event_id",
    )
    direct_n = join_conditions(
        a, b, keys=["conv_id"],
        conditions=[("dist_less", 600.0), ("min_distance", 1), "downstream"],
        left_id="event_id",
    )
    direct_m = nearest_k(
        a, b, keys=["conv_id"], k=1, max_distance_s=600.0,
        min_distance_s=30.0, left_id="event_id",
    )
    assert len(pdf(compiled.materialized["R"])) > 0
    pd.testing.assert_frame_equal(pdf(compiled.materialized["R"]), pdf(direct_r))
    pd.testing.assert_frame_equal(pdf(compiled.materialized["N"]), pdf(direct_n))
    pd.testing.assert_frame_equal(pdf(compiled.materialized["M"]), pdf(direct_m))


def test_script_ann_ivf_equals_direct(spark):
    """ANN/IVF statements == direct similarity calls; IVF takes the
    centroid table as a third first-class input variable."""
    import numpy as np

    from gmql_spark.operators.similarity import (
        centroids_to_table,
        cosine_topk,
        ivf_topk,
    )

    rng = np.random.Generator(np.random.PCG64(5))
    vecs = rng.standard_normal((120, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 8")
    cen_tab = centroids_to_table(spark, rng.standard_normal((16, 16)))

    script = """
        B = ANN(k: 3, method: 'brute') Q C;
        V = IVF(k: 3, n_probe: 4) Q C CEN;
        MATERIALIZE B; MATERIALIZE V;
    """
    compiled = compile_script(
        spark, script, tables={"Q": q, "C": emb, "CEN": cen_tab}
    )

    def keyset(df):
        return {(r.query_id, r.neighbor_id, r.rank) for r in df.collect()}

    assert keyset(compiled.materialized["B"]) == keyset(cosine_topk(q, emb, k=3))
    assert keyset(compiled.materialized["V"]) == keyset(
        ivf_topk(q, emb, cen_tab, k=3, n_probe=4)
    )
    with pytest.raises(GSLError, match="takes 3"):
        compile_script(spark, "V = IVF(k: 3) Q C; MATERIALIZE V;",
                       tables={"Q": q, "C": emb})


def test_script_salted_equals_unsalted(spark, raw):
    """ASOF/SESSIONIZE accept salt: (the hot-key range-salt path) and
    must produce identical results to the unsalted statements."""
    a = raw.filter(F.col("role") == "user").select("conv_id", "ts")
    b = raw.filter(F.col("role") == "assistant").select("conv_id", "ts")
    script = """
        P = ASOF(key: 'conv_id') A B;
        PS = ASOF(key: 'conv_id', salt: 600.0) A B;
        S = SESSIONIZE(key: 'conv_id', gap: 120.0) A;
        SS = SESSIONIZE(key: 'conv_id', gap: 120.0, salt: 600.0) A;
        MATERIALIZE P; MATERIALIZE PS; MATERIALIZE S; MATERIALIZE SS;
    """
    m = compile_script(spark, script, tables={"A": a, "B": b}).materialized

    def rows(df):
        return {tuple(r) for r in df.collect()}

    assert rows(m["PS"]) == rows(m["P"]) and len(rows(m["P"])) > 0
    assert rows(m["SS"]) == rows(m["S"]) and len(rows(m["S"])) > 0


def test_script_compress_decompress_roundtrip(spark):
    """COMPRESS -> DECOMPRESS round-trips through the script surface;
    the ranged DECOMPRESS applies the zone-map read."""
    import datetime as _dt

    rows = [
        ("c0", _dt.datetime(2026, 1, 1, 0, m), float(m)) for m in range(30)
    ] + [
        ("c1", _dt.datetime(2026, 1, 1, 5, m), float(m)) for m in range(30)
    ]
    t = spark.createDataFrame(rows, "conv_id string, window_start timestamp, val double")
    script = """
        P = COMPRESS(key: 'conv_id', ts: 'window_start', value: 'val') T;
        U = DECOMPRESS(key: 'conv_id') P;
        R = DECOMPRESS(key: 'conv_id',
                       start: '2026-01-01T05:00:00', end: '2026-01-01T05:10:00') P;
        MATERIALIZE U; MATERIALIZE R;
    """
    m = compile_script(spark, script, tables={"T": t}).materialized
    u = m["U"].toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    exp = (
        t.withColumnRenamed("val", "value").toPandas()
        .sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(u, exp[u.columns])
    r = m["R"].toPandas()
    assert set(r.conv_id) == {"c1"} and len(r) == 10


def test_script_join_wildcard(spark):
    """JOIN wildcard: dims — '*' matches anything on either side."""
    import datetime as _dt

    t0 = _dt.datetime(2026, 1, 1)
    lv = spark.createDataFrame(
        [(1, "+", t0, t0 + _dt.timedelta(minutes=10)),
         (2, "*", t0, t0 + _dt.timedelta(minutes=10))],
        "lid long, strand string, start_ts timestamp, end_ts timestamp",
    )
    rv = spark.createDataFrame(
        [(20, "-", t0 + _dt.timedelta(minutes=5), t0 + _dt.timedelta(minutes=15))],
        "rid long, strand string, start_ts timestamp, end_ts timestamp",
    )
    script = "J = JOIN(key: [], wildcard: 'strand', bucket: 600.0) L R; MATERIALIZE J;"
    out = compile_script(spark, script, tables={"L": lv, "R": rv}).materialized["J"]
    assert {r.lid for r in out.collect()} == {2}  # only the '*' left row


def test_script_train_and_jaccard_equals_direct(spark, raw):
    """TRAIN (k-means centroid table) and JACCARD (cover follow-up
    aggregates) statements == direct operator calls; the TRAIN output
    feeds IVF as a first-class variable."""
    import numpy as np

    from gmql_spark.operators.cover import cover_jaccard
    from gmql_spark.operators.similarity import (
        centroids_to_table,
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.Generator(np.random.PCG64(8))
    vecs = rng.standard_normal((150, 12))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 6")

    script = """
        CEN = TRAIN(cells: 4, seed: 2, iters: 10) C;
        V = IVF(k: 3, n_probe: 2) Q C CEN;
        IV = PROJECT(keep: ['conv_id'], start_ts: 'ts', end_ts: 'ts + interval 300 seconds') T;
        J = JACCARD(min: 2) IV;
        MATERIALIZE V; MATERIALIZE J;
    """
    compiled = compile_script(
        spark, script, tables={"C": emb, "Q": q, "T": raw}
    )
    cen = train_ivf_centroids(emb, n_cells=4, seed=2, n_iters=10)
    exp_v = ivf_topk(q, emb, centroids_to_table(spark, cen), k=3, n_probe=2)

    def keyset(df):
        return {(r.query_id, r.neighbor_id, r.rank) for r in df.collect()}

    assert keyset(compiled.materialized["V"]) == keyset(exp_v)

    iv = raw.select(
        "conv_id",
        F.col("ts").alias("start_ts"),
        F.expr("ts + interval 300 seconds").alias("end_ts"),
    )
    exp_j = cover_jaccard(iv, min_acc=2).toPandas()
    got_j = compiled.materialized["J"].toPandas()
    cols = ["cover_start", "cover_end", "acc_max", "n_contrib",
            "jaccard_result", "jaccard_intersect"]
    pd.testing.assert_frame_equal(
        got_j[cols].sort_values(cols[:2]).reset_index(drop=True),
        exp_j[cols].sort_values(cols[:2]).reset_index(drop=True),
    )


def test_script_jaccard_keyed(spark, raw):
    """Keyed JACCARD (the per-key cover_jaccard path): the isl/iv key
    equality predicate is derived from a self-join of the same input
    frame — this pins Spark's ambiguous-self-join resolution for the
    DSL-reachable keyed variant (the flat gate path uses keys=())."""
    from gmql_spark.operators.cover import cover_jaccard

    script = """
        IV = PROJECT(keep: ['role'], start_ts: 'ts', end_ts: 'ts + interval 300 seconds') T;
        J = JACCARD(min: 2, key: ['role']) IV;
        MATERIALIZE J;
    """
    got = compile_script(spark, script, tables={"T": raw}).materialized["J"]
    iv = raw.select(
        "role",
        F.col("ts").alias("start_ts"),
        F.expr("ts + interval 300 seconds").alias("end_ts"),
    )
    exp = cover_jaccard(iv, min_acc=2, keys=("role",)).toPandas()
    assert exp["role"].nunique() > 1  # genuinely multi-key
    cols = ["role", "cover_start", "cover_end", "acc_max", "n_contrib",
            "jaccard_result", "jaccard_intersect"]
    pd.testing.assert_frame_equal(
        got.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True),
        exp[cols].sort_values(cols[:3]).reset_index(drop=True),
    )
