"""Property tests (SURVEY §5.2.3): cleaning and dedup invariants over
generated inputs — batched so each hypothesis example is one Spark job."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from datawarehouse_project_spark.functions.cleaning import (
    clean_price,
    multi_format_date,
)
from datawarehouse_project_spark.sources.csv_ingest import dedup_last_wins


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks the cleaning rules and the dedup rows on fixed
# inputs (test_ingest, the sf0.001 oracles); the invariants over
# generated inputs are checked only here.
pytestmark = pytest.mark.slow

_SETTINGS = dict(max_examples=5, deadline=None)

_dates = st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2099, 12, 28))
_FORMATS = [
    lambda d: d.strftime("%Y-%m-%d"),
    lambda d: d.strftime("%m/%d/%Y"),
    lambda d: d.strftime("%d-%m-%Y"),
    lambda d: d.strftime("%Y/%m/%d"),
]


@settings(**_SETTINGS)
@given(st.lists(st.tuples(_dates, st.integers(0, 3), st.booleans()), min_size=20, max_size=60))
def test_multi_format_date_roundtrip(spark, cases):
    rows = [
        (i, _FORMATS[fmt](d) + (" 03:09:00" if suffix else ""), d.isoformat())
        for i, (d, fmt, suffix) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows, ["i", "raw", "expected"])
    out = df.withColumn("parsed", multi_format_date("raw")).collect()
    for r in out:
        assert r.parsed is not None, r.raw
        assert r.parsed.isoformat() == r.expected, (r.raw, r.parsed)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.decimals(min_value=0, max_value=99999999, places=2),
            st.sampled_from(["", "$", "$ ", " USD"]),
            st.sampled_from(["", "  ", "\t"]),
        ),
        min_size=20,
        max_size=60,
    )
)
def test_clean_price_recovers_value(spark, cases):
    rows = [
        (i, f"{pre}{price}{suf}", str(price)) for i, (price, suf, pre) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows, ["i", "raw", "expected"])
    out = df.withColumn("cleaned", clean_price("raw")).collect()
    for r in out:
        assert r.cleaned == Decimal(r.expected), (r.raw, r.cleaned)


def test_clean_price_garbage_defaults_to_zero(spark):
    df = spark.createDataFrame(
        [("N/A",), ("",), ("abc",), ("$",), (None,)], ["raw"]
    )
    out = df.withColumn("cleaned", clean_price("raw")).collect()
    assert all(r.cleaned == Decimal("0.00") for r in out)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.text("abcdef", min_size=1, max_size=4)),
        min_size=5,
        max_size=50,
    )
)
def test_dedup_last_wins_properties(spark, rows):
    df = spark.createDataFrame(
        [(pk, val, i) for i, (pk, val) in enumerate(rows)], ["pk", "val", "ord"]
    )
    once = dedup_last_wins(df, ["pk"], ordinal="ord")
    # one row per pk, and it is the max-ordinal row
    got = {r.pk: (r.val, r.ord) for r in once.collect()}
    expected = {}
    for i, (pk, val) in enumerate(rows):
        expected[pk] = (val, i)
    assert got == expected
    # idempotent
    twice = dedup_last_wins(once, ["pk"], ordinal="ord")
    assert sorted(map(str, twice.collect())) == sorted(map(str, once.collect()))


def test_connected_components_raises_without_convergence(spark):
    """The convergence guard must fail loudly on a graph deeper than the
    round budget instead of returning partial labels."""
    import pytest as _pytest

    from datawarehouse_project_spark.operators.dedup import connected_components

    # a 6-node chain has diameter 5: min label needs 5 rounds to reach the end
    nodes = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["doc_a", "doc_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=2)
    labels = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges, max_iter=10).collect()
    }
    assert labels == {i: 0 for i in range(6)}


def test_star_components_deep_chain_and_parity(spark):
    """large-star/small-star must label a 100-node chain (diameter 99)
    within its O(log n) round budget — the graph shape that defeats plain
    min-label propagation — and must agree with label propagation on a
    multi-component graph with isolated nodes."""
    from datawarehouse_project_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 100
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    # 12 rounds ~ log2(100)^2 headroom; plain propagation needs 99
    labels = {
        r.doc_id: r.component_id
        for r in connected_components_star(nodes, chain, max_iter=12).collect()
    }
    assert labels == {i: 0 for i in range(n)}

    # mixed shape: two components + isolated nodes, edges in random orientation
    nodes2 = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    edges2 = spark.createDataFrame(
        [(3, 1), (1, 2), (7, 5), (6, 7), (5, 6), (9, 8)], ["doc_a", "doc_b"]
    )
    star = {
        r.doc_id: r.component_id
        for r in connected_components_star(nodes2, edges2).collect()
    }
    prop = {
        r.doc_id: r.component_id
        for r in connected_components(nodes2, edges2).collect()
    }
    assert star == prop
    assert star[3] == 1 and star[6] == 5 and star[9] == 8
    assert star[0] == 0 and star[11] == 11  # isolated nodes self-label

    # empty edge set: every node is its own component
    none = spark.createDataFrame([], "doc_a long, doc_b long")
    solo = {
        r.doc_id: r.component_id
        for r in connected_components_star(nodes2, none).collect()
    }
    assert solo == {i: i for i in range(12)}


def test_star_components_10k_chain_stress(spark):
    """Continuous verification of the deep-graph claim at driver scale:
    a 10k-node chain (diameter 9999) must converge within the ~log-n
    round budget with constant per-round plan size (the lineage-
    truncation property — before the localCheckpoint fix this shape
    OOM'd the JVM at 100 nodes). Built with spark.range, so the graph
    never materializes driver-side."""
    from datawarehouse_project_spark.operators.dedup import (
        connected_components_star,
    )

    n = 10_000
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = connected_components_star(nodes, edges, max_iter=30)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("component_id").alias("k"),
        F.min("component_id").alias("lo"),
        F.max("component_id").alias("hi"),
    ).first()
    assert (agg["n"], agg["k"], agg["lo"], agg["hi"]) == (n, 1, 0, 0)


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(1, 200), min_size=5, max_size=40),
    st.sampled_from([8, 64, 256]),
)
def test_pack_sequences_algebra_on_generated_corpora(spark, lengths, budget):
    """Concat-and-chop packing on arbitrary token-length sequences: spans
    tile every pack exactly, conserve every doc's tokens, and the number
    of packs is ceil(total/budget) — checked against a trivial Python
    reference on generated inputs (one language partition, any budget)."""
    from pyspark.sql import Window

    rows = [(i, n) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("cum_end", F.sum("n_tokens").over(w).cast("bigint"))
    cum = cum.withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
    spans = cum.selectExpr(
        "doc_id",
        "cum_start",
        "cum_end",
        f"explode(sequence(CAST(floor(cum_start / {budget}) AS BIGINT), "
        f"CAST(floor((cum_end - 1) / {budget}) AS BIGINT))) AS pack_id",
    ).selectExpr(
        "doc_id",
        "pack_id",
        f"CAST(least(cum_end, (pack_id + 1) * {budget}) "
        f"- greatest(cum_start, pack_id * {budget}) AS BIGINT) AS n_tok",
    ).collect()

    total = sum(lengths)
    packs = {}
    per_doc = {}
    for r in spans:
        packs[r["pack_id"]] = packs.get(r["pack_id"], 0) + r["n_tok"]
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tok"]
    assert per_doc == {i: n for i, n in rows}
    n_packs = -(-total // budget)  # ceil
    assert sorted(packs) == list(range(n_packs))
    for pid, tok in packs.items():
        assert tok == (budget if pid < n_packs - 1 else total - budget * pid)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 49)),
        min_size=8,
        max_size=30,
    ),
    st.integers(2, 5),
)
def test_incremental_lsh_algebra_on_generated_corpora(spark, specs, mod):
    """pairs(all) == pairs(old) ∪ incremental(sigs(old), new) on generated
    corpora with engineered near-duplicates (docs sharing a template
    collide in every band). Split rule varies with the seed."""
    from datawarehouse_project_spark.operators.dedup_incremental import (
        incremental_lsh_pairs,
        signatures_of,
    )

    words_pool = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red green blue cyan magenta yellow black white",
        "north south east west up down left right middle",
        "ant bee cat dog elk fox gnu hen ibis jay",
        "oak elm fir ash yew pine cedar birch maple",
        "rain snow hail sleet fog mist wind storm calm",
        "iron gold lead zinc tin copper nickel silver",
        "sol luna terra mars ceres vesta juno pallas",
        "do re mi fa sol la ti octave chord scale",
    ]
    rows = [
        (i, words_pool[tpl] + (f" tail{salt}" if salt % 7 == 0 else ""))
        for i, (tpl, salt) in enumerate(specs)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    old = docs.filter(F.col("doc_id") % mod != 0)
    new = docs.filter(F.col("doc_id") % mod == 0)

    def pairs(existing, batch):
        return {
            (r["doc_a"], r["doc_b"], r["n_matching_minhash"])
            for r in incremental_lsh_pairs(existing, batch).collect()
        }

    empty = signatures_of(docs.limit(0))
    all_pairs = pairs(empty, docs)
    old_pairs = pairs(empty, old)
    inc_pairs = pairs(signatures_of(old), new)
    assert old_pairs | inc_pairs == all_pairs
    assert not (old_pairs & inc_pairs)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),        # user
            st.integers(0, 2),        # attribute value
            st.integers(0, 100_000),  # ts offset seconds
        ),
        min_size=5,
        max_size=40,
    ),
    st.integers(2, 4),  # number of time-sliced batches
)
def test_scd2_incremental_algebra_on_generated_logs(spark, specs, n_batches):
    """On arbitrary generated change logs (duplicate timestamps allowed —
    event_id breaks ties): folding event-time-ordered batches through
    IncrementalScd2 must equal the one-shot gaps-and-islands recompute,
    and the history must partition each user's timeline."""
    import tempfile

    from pyspark.sql import Window

    from datawarehouse_project_spark.operators.scd import (
        IncrementalScd2,
        _close_intervals,
        _runs_frame,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), user, f"v{val}", 0.0, "")
        for i, (user, val, off) in enumerate(specs)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    tiled = events.withColumn(
        "tile", F.ntile(n_batches).over(Window.orderBy("ts", "event_id"))
    )
    batches = [
        tiled.filter(F.col("tile") == i + 1).drop("tile").localCheckpoint(
            eager=True
        )
        for i in range(n_batches)
    ]

    def canon(df):
        return sorted(
            (r.user_id, r.version, r.event_type, r.valid_from, r.valid_to,
             r.run_events)
            for r in df.collect()
        )

    with tempfile.TemporaryDirectory() as d:
        inc = IncrementalScd2(f"{d}/scd2")
        for i, b in enumerate(batches):
            if b.count() == 0:
                continue
            inc.apply_batch(spark, b, batch_id=i)
        got = canon(inc.read(spark))
    assert got == canon(_close_intervals(_runs_frame(events)))
    # timeline partition invariants on the generated log
    by_user: dict = {}
    for u, v, _t, vf, vt, n in got:
        by_user.setdefault(u, []).append((v, vf, vt, n))
    for u, ivs in by_user.items():
        ivs.sort()
        assert [v for v, *_ in ivs] == list(range(1, len(ivs) + 1))
        assert sum(n for *_, n in ivs) == sum(
            1 for (user, _val, _off) in specs if user == u
        )
        for (v1, _f1, t1, _n1), (_v2, f2, _t2, _n2) in zip(ivs, ivs[1:]):
            assert t1 == f2  # contiguous
        assert ivs[-1][2] is None  # open current interval


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400
    ),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_wav_codec_roundtrip_property(samples, rate, n_ch):
    """synth_wav -> _parse_wav is the identity for any 16-bit PCM
    content, channel count, and rate; decoder energy/peak agree with
    direct computation (pure-python property — no Spark job per example)."""
    from datawarehouse_project_spark.operators.multimodal import (
        _parse_wav,
        synth_wav,
        wav_decoder,
    )

    frames = len(samples) // n_ch
    samples = samples[: frames * n_ch] if frames else samples[:1]
    if frames == 0:
        n_ch = 1
        frames = len(samples)
    data = synth_wav(samples, sample_rate=rate, n_channels=n_ch)
    parsed = _parse_wav(data)
    assert parsed is not None
    assert parsed["samples"] == samples
    assert parsed["sample_rate"] == rate
    assert parsed["n_channels"] == n_ch
    assert parsed["n_samples"] == frames
    feats = wav_decoder(data, "audio")
    assert feats["decoded"] is True
    assert feats["sum_sq"] == sum(s * s for s in samples)
    assert feats["peak"] == max(abs(s) for s in samples)
    # any byte-level truncation inside the data chunk must never parse
    assert _parse_wav(data[:-1]) is None


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["upsert", "delete"]),
            st.sets(st.integers(min_value=0, max_value=9), min_size=1, max_size=5),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=8, deadline=None)
def test_cdc_replica_parity_on_generated_histories(spark, tmp_path_factory, ops):
    """For ANY short history of upserts/deletes, syncing successive
    diff_versions feeds keeps the replica value-identical to the source
    at every version, with exactly one replica commit per non-empty feed
    and zero for empty ones (deleting absent keys)."""
    from datawarehouse_project_spark.sources.sinks import (
        VersionedParquetTable,
        apply_changes,
        diff_versions,
    )

    base = tmp_path_factory.mktemp("cdcprop")
    src = VersionedParquetTable(str(base / "src"))
    first_keys = ops[0][1]
    src.upsert(
        spark,
        spark.createDataFrame([(k, f"v{k}") for k in first_keys], "k long, v string"),
        pk=["k"],
    )
    for i, (kind, keys) in enumerate(ops):
        if kind == "upsert":
            src.upsert(
                spark,
                spark.createDataFrame(
                    [(k, f"u{i}-{k}") for k in keys], "k long, v string"
                ),
                pk=["k"],
            )
        else:
            src.delete(
                spark,
                spark.createDataFrame([(k,) for k in keys], "k long"),
                pk=["k"],
            )
    rep = VersionedParquetTable(str(base / "rep"))
    applied = 0
    for v_to in range(1, src.current_version() + 1):
        feed = diff_versions(spark, src, ["k"], v_to - 1, v_to)
        nonempty = bool(feed.limit(1).count())
        apply_changes(spark, feed, rep, ["k"], txn=("sync", v_to))
        applied += int(nonempty)
        assert rep.current_version() == applied
        want = sorted(
            (r.k, r.v) for r in src.read(spark, version=v_to).collect()
        )
        got_df = rep.read(spark)
        got = (
            sorted((r.k, r.v) for r in got_df.collect())
            if got_df is not None
            else []
        )
        assert got == want, f"diverged at source v{v_to} for ops={ops}"


@settings(**_SETTINGS)
@given(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
        min_size=5,
        max_size=200,
    )
)
def test_cms_never_underestimates_property(spark, tokens):
    """CMS guarantee over GENERATED token multisets: est >= true for
    every token, and per-depth mass conservation."""
    from datawarehouse_project_spark.operators.cms import (
        CMS_DEPTH,
        cms_counters,
        cms_estimates,
    )

    df = spark.createDataFrame([(t,) for t in tokens], "word string")
    counters = cms_counters(df).localCheckpoint(eager=True)
    masses = {r.i: r.mass for r in counters.groupBy("i").agg(F.sum("count").alias("mass")).collect()}
    assert set(masses) == set(range(CMS_DEPTH))
    assert all(m == len(tokens) for m in masses.values())
    true = df.groupBy("word").agg(F.count("*").alias("n"))
    est = cms_estimates(counters, true.select("word"))
    for r in est.join(true, "word").collect():
        assert r.est_count >= r.n, (r.word, r.est_count, r.n)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 30)),
        min_size=2,
        max_size=25,
    )
)
def test_interval_overlap_join_matches_brute_force_property(spark, spans):
    """Bucketized overlap join == the quadratic reference on GENERATED
    intervals (random starts/lengths spanning several buckets), for more
    than one bucket width."""
    import datetime as _dt

    from datawarehouse_project_spark.operators.relational import (
        interval_overlap_join,
    )

    base = _dt.date(2024, 1, 1)
    rows = [
        (i, base + _dt.timedelta(days=s), base + _dt.timedelta(days=s + ln))
        for i, (s, ln) in enumerate(spans)
    ]
    df = spark.createDataFrame(rows, ["id", "start", "end"])
    want = {}
    for i, s, e in rows:
        for j, s2, e2 in rows:
            if i < j and s <= e2 and s2 <= e:
                want[(i, j)] = (min(e, e2) - max(s, s2)).days + 1
    for width in (3, 7, 45):
        got = {
            (r.a_id, r.b_id): r.overlap_days
            for r in interval_overlap_join(
                df, df, bucket_days=width, self_pairs=True
            ).collect()
        }
        assert got == want, width


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(-50, 50, allow_nan=False, allow_infinity=False),
        min_size=3,
        max_size=80,
    )
)
def test_histogram_percentile_inequalities_property(spark, values):
    """Histogram percentile bound over GENERATED values: for every q,
    P[X < p_lo] < q (or the mass at the floor) and
    P[X <= p_lo + width] >= q."""
    from datawarehouse_project_spark.operators.histogram import (
        HIST_QS,
        HIST_WIDTH,
        percentiles_from_bins,
        value_histogram,
    )

    df = spark.createDataFrame([("k", float(v)) for v in values], "k string, value double")
    hist = value_histogram(df, ["k"])
    row = percentiles_from_bins(hist, ["k"]).first()
    n = len(values)
    for q in HIST_QS:
        p_lo = row[f"p{round(q * 100)}_lo"]
        below = sum(1 for v in values if v < p_lo)
        upto = sum(1 for v in values if v <= p_lo + HIST_WIDTH)
        assert below < q * n or below == 0, (q, p_lo)
        assert upto >= q * n, (q, p_lo)
