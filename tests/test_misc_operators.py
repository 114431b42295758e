"""Tests for skew helpers, the dynamic JSON path and the smaller operators."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mongo2mysql_spark.operators.dynamic import infer_json_schema, parse_json_column
from mongo2mysql_spark.operators.skew import salted_agg, salted_join

SF = "/root/testdata/sf0.001"


def test_salted_agg_matches_plain(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    plain = {
        (r["l_returnflag"],): (r["n"], r["s"])
        for r in df.groupBy("l_returnflag")
        .agg(F.count("l_orderkey").alias("n"), F.sum("l_orderkey").alias("s"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["n"], r["s"])
        for r in salted_agg(
            df, ["l_returnflag"], {"n": ("l_orderkey", "count"), "s": ("l_orderkey", "sum")},
            salt_buckets=16,
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    plain = li.join(o, "l_orderkey").count()
    salted = salted_join(li, o, "l_orderkey", salt_buckets=4).count()
    assert plain == salted


def test_infer_json_schema_and_parse(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, payload='{"a": 1, "b": {"c": "x"}, "tags": [1, 2]}'),
            Row(id=2, payload='{"a": 2.5, "b": {"c": "y"}}'),
            Row(id=3, payload=None),
        ]
    )
    schema = infer_json_schema(df, "payload")
    names = {f.name for f in schema.fields}
    assert names == {"a", "b", "tags"}
    out = parse_json_column(df, "payload")
    assert "payload_a" in out.columns and "payload_b" in out.columns
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["payload_a"] == 1.0  # widened int+double → double across sample
    assert rows[2]["payload_b"]["c"] == "y"
    assert rows[3]["payload_a"] is None  # null payload survives as nulls


def test_parse_json_unsampled_field_absent(spark):
    """Documented divergence window: a field first seen after the sample
    horizon is not in the schema."""
    rows = [Row(id=i, payload='{"a": 1}') for i in range(10)]
    rows.append(Row(id=99, payload='{"a": 1, "late_field": 5}'))
    df = spark.createDataFrame(rows)
    out = parse_json_column(df, "payload", sample=5)
    assert "payload_late_field" not in out.columns


def test_approx_sketch_tolerances(spark):
    """The approx sketches (HLL distinct, approx percentile) must land
    within their documented relative error of the exact values — the
    accuracy contract behind the rows-only registry entry."""
    from mongo2mysql_spark.queries import load_all
    from tests.conftest import SF_DIR

    df = load_all()["agg_approx_sketches"].fn(spark, SF_DIR)
    row = df.filter("branch = 'bounds'").collect()[0]
    assert row["within_tol_orders"] and row["within_tol_parts"]
    assert row["within_tol_p50"] and row["within_tol_p90"]
    assert row["within_tol_merged"]
    kmv = df.filter("branch = 'kmv'").collect()
    assert len(kmv) == 4 and all(r["kmv_in_tol"] for r in kmv)


def test_hll_sketch_partials_merge_exactly(spark):
    """The mergeable-sketch contract: unioning per-group HLL partials
    must equal sketching the whole column in one pass — this is what
    lets 100 TB distinct-count rollups reuse persisted per-partition
    sketches instead of rescanning raw data."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.sources.parquet import load_table
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    whole = o.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).first()["est"]
    merged = (
        o.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()["est"]
    )
    assert merged == whole


def test_asof_rejects_colliding_value_cols(spark):
    """value_cols sharing a name with a left column would silently
    corrupt the ignorenulls carry-forward — must raise instead."""
    import pytest as _pytest

    from mongo2mysql_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, 10, 5.0)], "k int, ts int, v double")
    right = spark.createDataFrame([(1, 9, 7.0)], "k int, ts int, v double")
    with _pytest.raises(ValueError, match="collide"):
        asof_join_backward(left, right, "k", "ts", "ts", ["v"])
    renamed = right.withColumnRenamed("v", "r_v")
    out = asof_join_backward(left, renamed, "k", "ts", "ts", ["r_v"]).collect()
    assert out[0]["r_v"] == 7.0  # prior right row carried, not left's own v


def test_mongodb_reader_options():
    from mongo2mysql_spark.sources.mongodb import reader_options

    opts = reader_options("mongodb://h:27017", "nodebb", "objects", 500,
                          pipeline='[{"$match": {"x": 1}}]')
    assert opts == {
        "connection.uri": "mongodb://h:27017",
        "database": "nodebb",
        "collection": "objects",
        "sampleSize": "500",
        "aggregation.pipeline": '[{"$match": {"x": 1}}]',
    }
    assert "aggregation.pipeline" not in reader_options("u", "d", "c")


def test_mongodb_reader_gated_without_connector(spark):
    """No connector jar in the container: the read must fail with the
    actionable classpath message, not a raw Spark error."""
    import pytest as _pytest

    from mongo2mysql_spark.sources.mongodb import read_collection

    with _pytest.raises(RuntimeError, match="mongo-spark-connector"):
        read_collection(spark, "mongodb://h:27017", "db", "coll")


def test_salted_topk_matches_plain_window(spark):
    """Two-phase salted top-k == plain window top-k, for several k and
    salt counts (the group top-k is a subset of its salt-bucket top-ks)."""
    from pyspark.sql import Window as W

    from mongo2mysql_spark.operators.skew import salted_topk_per_group
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    p = load_table(spark, SF_DIR, "part")
    order = [F.desc("p_retailprice"), F.col("p_partkey")]
    for k, s in ((1, 4), (3, 16), (10, 2)):
        got = sorted(
            map(
                tuple,
                salted_topk_per_group(p, ["p_brand"], order, k=k, salt_buckets=s)
                .select("p_brand", "p_partkey", "rank")
                .collect(),
            )
        )
        w = W.partitionBy("p_brand").orderBy(*order)
        want = sorted(
            map(
                tuple,
                p.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("p_brand", "p_partkey", "rank")
                .collect(),
            )
        )
        assert got == want, (k, s)


def test_range_join_matches_naive_inequality(spark):
    """Bucket equi-join == naive BETWEEN join, across bucket widths
    (narrower / near / wider than the interval lengths)."""
    from mongo2mysql_spark.operators.rangejoin import range_join_bucketed

    pts = spark.range(200).select(
        F.col("id").alias("pid"), ((F.col("id") * 37) % 1000).alias("x")
    )
    ivl = spark.range(30).select(
        F.col("id").alias("iid"),
        ((F.col("id") * 29) % 900).alias("lo"),
        (((F.col("id") * 29) % 900) + (F.col("id") * 13) % 120).alias("hi"),
    )
    naive = {
        (r["pid"], r["iid"])
        for r in pts.join(
            ivl, (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi"))
        ).collect()
    }
    assert naive  # non-vacuous
    for width in (1, 50, 5000):
        got = {
            (r["pid"], r["iid"])
            for r in range_join_bucketed(pts, ivl, "x", "lo", "hi", width).collect()
        }
        assert got == naive, f"bucket_width={width}"


def test_range_join_input_contracts(spark):
    from mongo2mysql_spark.operators.rangejoin import range_join_bucketed

    pts = spark.range(5).select(F.col("id").alias("x"))
    ivl = spark.range(5).select(F.col("id").alias("x"), (F.col("id") + 2).alias("hi"))
    try:
        range_join_bucketed(pts, ivl, "x", "x", "hi", 10)
        raise AssertionError("overlapping columns must be rejected")
    except ValueError as e:
        assert "disjoint" in str(e)
    ivl2 = spark.range(5).select(F.col("id").alias("lo"), (F.col("id") + 2).alias("hi"))
    try:
        range_join_bucketed(pts, ivl2, "x", "lo", "hi", 0)
        raise AssertionError("bucket_width=0 must be rejected")
    except ValueError as e:
        assert "positive" in str(e)


def test_hypertable_rollup_matches_direct_per_level(spark):
    """Hierarchical re-aggregation must equal one direct groupBy per
    granularity (algebraic-aggregate congruence)."""
    from mongo2mysql_spark.functions.scalar import DEC
    from mongo2mysql_spark.operators.rollup import hypertable_rollup
    from mongo2mysql_spark.sources import load_table

    e = load_table(spark, SF, "events")
    rolled = hypertable_rollup(
        e, "ts", ["event_type"], F.col("value"), levels=("hour", "day", "week")
    )
    got = {
        (r["granularity"], r["bucket"], r["event_type"]): (r["n_rows"], r["sum_val"])
        for r in rolled.collect()
    }
    for lvl in ("hour", "day", "week"):
        direct = {
            (lvl, r["bucket"], r["event_type"]): (r["n"], r["s"])
            for r in e.groupBy(
                F.date_trunc(lvl, F.col("ts")).alias("bucket"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast(DEC)), 4).cast("double").alias("s"),
            )
            .collect()
        }
        sub = {k: v for k, v in got.items() if k[0] == lvl}
        assert sub == direct, lvl


def test_hypertable_rollup_rejects_bad_levels(spark):
    from mongo2mysql_spark.operators.rollup import hypertable_rollup
    from mongo2mysql_spark.sources import load_table

    e = load_table(spark, SF, "events")
    for levels in (("day", "hour"), ("hour", "fortnight")):
        try:
            hypertable_rollup(e, "ts", [], F.col("value"), levels=levels)
            raise AssertionError(f"levels={levels} must be rejected")
        except ValueError:
            pass


def test_running_total_two_phase_matches_window(spark):
    """Two-phase global/per-group prefix sum ≡ the plain window cumsum
    (which is only safe at test scale), inclusive and exclusive."""
    from pyspark.sql import Window as W

    from mongo2mysql_spark.operators.sequence import add_running_total_two_phase

    df = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", (F.col("o_orderkey") % 7).alias("v")
    )
    for exclusive in (False, True):
        hi = -1 if exclusive else 0
        w = W.orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, hi)
        want = {
            r["o_orderkey"]: r["c"]
            for r in df.withColumn(
                "c", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long")
            ).collect()
        }
        got = {
            r["o_orderkey"]: r["_cum"]
            for r in add_running_total_two_phase(
                df, "v", "o_orderkey", exclusive=exclusive
            ).collect()
        }
        assert got == want, f"exclusive={exclusive}"
    # per-group: partitioned prefix sum restarts per key
    grp = (F.col("o_custkey") % 5).alias("g")
    gdf = df.select("o_orderkey", grp, "v")
    wg = W.partitionBy("g").orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, 0)
    want = {
        (r["g"], r["o_orderkey"]): r["c"]
        for r in gdf.withColumn("c", F.sum("v").over(wg).cast("long")).collect()
    }
    got = {
        (r["g"], r["o_orderkey"]): r["_cum"]
        for r in add_running_total_two_phase(
            gdf, "v", "o_orderkey", partition_cols=["g"]
        ).collect()
    }
    assert got == want


def test_pack_sequences_invariants(spark):
    """Packing is a partition of the concatenated token stream: spans
    are contiguous, within-budget, and adjacent docs abut exactly."""
    from mongo2mysql_spark.operators.packing import pack_sequences

    L = 64
    rows = [(i, (i * 37) % 150) for i in range(1, 301)] + [(301, 0)]  # incl. empty doc
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    out = pack_sequences(df, "n_tokens", "doc_id", L).orderBy("doc_id").collect()

    cum = 0
    for r in out:
        n = max(r["n_tokens"], 1)
        assert r["first_seq"] == cum // L, r
        assert r["first_offset"] == cum % L, r
        assert r["last_seq"] == (cum + n - 1) // L, r
        assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1, r
        # a doc spanning s sequences has enough tokens to cross s-1 boundaries
        assert r["n_seqs"] <= (n + L - 1) // L + 1, r
        cum += r["n_tokens"]
    total_seqs = out[-1]["last_seq"] + 1
    assert total_seqs == (cum + L - 1) // L or cum % L == 0


def test_asof_backward_matches_bruteforce(spark):
    """The backward as-of join must agree with a per-row brute-force
    scan of the right side (inclusive match)."""
    import random

    from mongo2mysql_spark.operators.asof import asof_join_backward

    rng = random.Random(7)
    lrows = [(i, rng.randrange(3), float(rng.randrange(100))) for i in range(200)]
    rrows = []
    seen = set()
    for j in range(120):
        k, ts = rng.randrange(3), float(rng.randrange(100))
        if (k, ts) not in seen:  # right unique per (key, ts)
            seen.add((k, ts))
            rrows.append((k, ts, f"v{j}"))
    left = spark.createDataFrame(lrows, "lid int, k int, lts double")
    right = spark.createDataFrame(rrows, "k int, rts double, val string")

    brute = {}
    for lid, k, lts in lrows:
        c = [(rts, v) for (rk, rts, v) in rrows if rk == k and rts <= lts]
        brute[lid] = max(c)[1] if c else None

    got = {
        r["lid"]: r["val"]
        for r in asof_join_backward(left, right, "k", "lts", "rts", ["val"]).collect()
    }
    assert got == brute


def test_weighted_mixture_flag_matches_python(spark):
    """Per-domain keep decisions must equal a pure-Python recount of the
    same salted-md5 buckets, and survive repartitioning unchanged."""
    import hashlib

    from mongo2mysql_spark.operators.sampling import weighted_mixture_flag

    rates = {"en": 1.0, "de": 0.5, "es": 0.25, "fr": 0.1}
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    out = d.select(
        "doc_id", "lang",
        weighted_mixture_flag(F.col("doc_id"), F.col("lang"), rates, 0.05).alias("m"),
    )
    got = {r["doc_id"]: r["m"] for r in out.collect()}
    got_repart = {r["doc_id"]: r["m"] for r in out.repartition(13).collect()}
    assert got == got_repart
    for r in d.collect():
        rate = rates.get(r["lang"], 0.05)
        b = hashlib.md5(f"mix|{r['doc_id']}".encode()).hexdigest()[:2]
        want = 1 if b < format(round(256 * rate), "02x") else 0
        assert got[r["doc_id"]] == want, (r["doc_id"], r["lang"])


def test_pack_sequences_properties(spark):
    """Property check over randomized corpora: packing is the exact
    arithmetic image of the concatenated token stream — spans abut,
    nothing is lost, every sequence index is covered."""
    import random

    from mongo2mysql_spark.operators.packing import pack_sequences

    rng = random.Random(11)
    for trial in range(3):
        L = rng.choice([16, 64, 257])
        rows = [(i, rng.choice([0, 1, L - 1, L, L + 1, rng.randrange(3 * L)]))
                for i in range(rng.randrange(1, 120))]
        df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
        out = pack_sequences(df, "n_tokens", "doc_id", L).orderBy("doc_id").collect()
        cum = 0
        prev_last = 0
        for r in out:
            assert r["first_seq"] * L + r["first_offset"] == cum, (trial, r)
            assert r["first_seq"] >= prev_last - 1 or cum == 0
            n = max(r["n_tokens"], 1)
            assert r["last_seq"] == (cum + n - 1) // L, (trial, r)
            prev_last = r["last_seq"]
            cum += r["n_tokens"]
        # sequence indices are contiguous from 0 to the last one
        covered = set()
        for r in out:
            covered.update(range(r["first_seq"], r["last_seq"] + 1))
        assert covered == set(range(max(covered) + 1)) if covered else True


def test_sessionize_gap_boundary(spark, tmp_path):
    """Events exactly 1,800,000 ms apart stay in ONE session (the gap
    rule is strict `>`); 1,800,001 ms starts a new one.  Written as a
    real events.parquet so the registered query's full path (source
    normalization included) is what's under test."""
    from datetime import datetime, timezone

    from mongo2mysql_spark.queries.relational import events_sessionize

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def at(ms):
        return datetime.fromtimestamp(t0.timestamp() + ms / 1000.0, tz=timezone.utc)

    rows = [
        # user 1: e2 exactly 30 min after e1 (same session); e3 is
        # 30 min + 1 ms after e2 (new session)
        (1, at(0), 1, "view", 1.0, "{}"),
        (2, at(1_800_000), 1, "view", 1.0, "{}"),
        (3, at(3_600_001), 1, "view", 1.0, "{}"),
        # user 2: single event
        (4, at(500), 2, "click", 2.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in events_sessionize(spark, str(tmp_path))
        .filter("branch = 'sessions'")  # the slot is a tagged family now
        .collect()
    }
    assert out == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_events_ts_normalized_for_both_parquet_shapes(spark, tmp_path):
    """The driver has shipped events.ts as BOTH ns-int64 and
    microsecond TIMESTAMP_NTZ across rounds; load_table and
    stream_events must normalize either shape to TIMESTAMP with
    identical values (UTC session makes the NTZ cast value-preserving)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo2mysql_spark.sources.parquet import load_table
    from mongo2mysql_spark.streaming.pipeline import stream_events, run_to_memory

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    us_values = [base_us, base_us + 1_500_000]

    def table(ts_array):
        return pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": ts_array,
                "user_id": pa.array([7, 7], pa.int64()),
                "event_type": pa.array(["view", "view"]),
                "value": pa.array([1.0, 2.0], pa.float64()),
                "props": pa.array(["{}", "{}"]),
            }
        )

    shapes = {
        "ntz": pa.array(us_values, pa.timestamp("us")),  # no timezone -> NTZ
        "ns_int64": pa.array([v * 1000 for v in us_values], pa.int64()),
    }
    expected = None
    for name, arr in shapes.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(table(arr), d / "events.parquet")
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = sorted((r["event_id"], r["ts"].isoformat()) for r in df.collect())
        expected = expected or got
        assert got == expected, name  # both shapes decode to identical instants
        sdf = run_to_memory(
            stream_events(spark, str(d)).select("event_id", "ts"), mode="append"
        )
        sgot = sorted((r["event_id"], r["ts"].isoformat()) for r in sdf.collect())
        assert sgot == expected, name


def test_resample_interpolate_and_locf(spark):
    """Resample/gap-fill vs a hand-computed grid: observed buckets keep
    exact averages, interior gaps interpolate linearly, the trailing
    edge falls back to locf, and single-observation keys emit one row."""
    from datetime import datetime, timezone

    from mongo2mysql_spark.operators.resample import resample_interpolate

    def ts(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc)

    rows = [
        # key 1: obs at hours 0 (v=10, two obs averaging 10) and 3 (v=40)
        (1, ts(0), 8.0), (1, ts(0), 12.0), (1, ts(3), 40.0),
        # key 2: single observation
        (2, ts(5), 7.0),
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp, v double")
    out = {
        (r["key"], r["bucket_start"].hour): (r["value"], r["n_obs"], r["filled"])
        for r in resample_interpolate(df, "key", "ts", "v", 3600).collect()
    }
    assert out[(1, 0)] == (10.0, 2, False)
    assert out[(1, 1)] == (20.0, 0, True)   # 10 + (40-10)*1/3
    assert out[(1, 2)] == (30.0, 0, True)
    assert out[(1, 3)] == (40.0, 1, False)
    assert out[(2, 5)] == (7.0, 1, False)
    assert len(out) == 5

    locf = {
        (r["key"], r["bucket_start"].hour): r["value"]
        for r in resample_interpolate(df, "key", "ts", "v", 3600, method="locf").collect()
    }
    assert locf[(1, 1)] == 10.0 and locf[(1, 2)] == 10.0


def test_resample_matches_python_reference_on_events(spark):
    """Cross-check on the real events table (purchase values per user,
    6h buckets) against a pure-Python exact-rational reference: the
    operator's value_num/value_den must equal the Fraction the
    reference computes, and the served double must be num/(den*1e6)."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    from mongo2mysql_spark.operators.resample import resample_interpolate
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 40)
    )
    got = {}
    for r in resample_interpolate(ev, "user_id", "ts", "value", 21600).collect():
        frac = Fraction(int(r["value_num"]), int(r["value_den"]) * 10**6)
        assert abs(r["value"] - float(frac)) < 1e-9
        got[(r["key"], int(r["bucket_start"].timestamp()))] = (
            frac, r["n_obs"], r["filled"]
        )
    rows = ev.select("user_id", "ts", "value").collect()

    def quant(v):  # the operator's cast(decimal(18,6)) * 1e6 quantization
        return int(
            Decimal(str(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP) * 10**6
        )

    obs = defaultdict(list)
    for r in rows:
        obs[(r["user_id"], int(r["ts"].timestamp()) // 21600)].append(quant(r["value"]))
    want = {}
    by_key = defaultdict(list)
    for (u, b), vs in obs.items():
        by_key[u].append(b)
    for u, buckets in by_key.items():
        lo, hi = min(buckets), max(buckets)
        observed = sorted(set(buckets))
        for b in range(lo, hi + 1):
            if (u, b) in obs:
                vs = obs[(u, b)]
                want[(u, b * 21600)] = (
                    Fraction(sum(vs), len(vs) * 10**6), len(vs), False
                )
            else:
                prev = max(x for x in observed if x < b)
                nxts = [x for x in observed if x > b]
                pv = Fraction(sum(obs[(u, prev)]), len(obs[(u, prev)]) * 10**6)
                if nxts:
                    nb = min(nxts)
                    nv = Fraction(sum(obs[(u, nb)]), len(obs[(u, nb)]) * 10**6)
                    val = pv + (nv - pv) * Fraction(b - prev, nb - prev)
                else:
                    val = pv
                want[(u, b * 21600)] = (val, 0, True)
    assert set(got) == set(want)
    mism = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mism, list(mism.items())[:3]


def test_countmin_guarantees_and_merge(spark):
    """Count-min invariants on the real events table: estimates never
    undercount, error stays within the (e/width)*N bound for every key,
    per-half sketch partials merge to exactly the full sketch, and
    heavy_hitters returns a superset of the true heavy keys."""
    import math

    from mongo2mysql_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
        heavy_hitters,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    key = F.col("user_id")
    n = ev.count()
    exact = {r["user_id"]: r["cnt"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}

    sk = countmin_build(ev, key, depth=4, width=256)
    assert sk.count() <= 4 * 256
    est = {
        r["key"]: r["est"]
        for r in countmin_estimate(
            ev.select(key.alias("key")).distinct(), sk, F.col("key"),
            depth=4, width=256,
        ).collect()
    }
    bound = math.e / 256 * n
    for k, true in exact.items():
        assert est[k] >= true, (k, est[k], true)
        assert est[k] <= true + bound, (k, est[k], true, bound)

    # mergeability: half-sketches add to the full sketch exactly
    h1 = countmin_build(ev.filter(key % 2 == 0), key, depth=4, width=256)
    h2 = countmin_build(ev.filter(key % 2 == 1), key, depth=4, width=256)
    merged = {
        (r["d"], r["bucket"]): r["c"] for r in countmin_merge(h1, h2).collect()
    }
    full = {(r["d"], r["bucket"]): r["c"] for r in sk.collect()}
    assert merged == full

    # heavy hitters: superset of true phi-heavy keys
    phi = 0.02
    true_heavy = {k for k, c in exact.items() if c >= phi * n}
    got_heavy = {r["key"] for r in heavy_hitters(ev, key, phi=phi, width=256).collect()}
    assert true_heavy <= got_heavy


def test_targeted_salted_join_matches_plain(spark):
    """Sketch-detected hot keys drive targeted salting; the result must
    equal the plain inner join row-for-row, and only hot-key rows of
    the small side replicate."""
    from mongo2mysql_spark.operators.sketches import heavy_hitters
    from mongo2mysql_spark.operators.skew import salted_join_targeted
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    hot = heavy_hitters(ev, F.col("user_id"), phi=0.01, width=256).select(
        F.col("key").alias("user_id")
    )
    assert hot.count() > 0

    plain = (
        ev.join(cust, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join_targeted(ev, cust, "user_id", hot, salt_buckets=4)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = {(r["user_id"], r["n"]) for r in plain.collect()}
    s = {(r["user_id"], r["n"]) for r in salted.collect()}
    assert p == s


def test_stratified_fixed_n_deterministic_and_exact(spark):
    """Exactly min(n, stratum size) rows per stratum, identical across
    runs and repartitionings, and the selection matches the salted-md5
    order computed in Python."""
    import hashlib

    from mongo2mysql_spark.operators.sampling import stratified_fixed_n
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    out = stratified_fixed_n(docs, ["lang"], "doc_id", 7)
    got = {}
    for r in out.collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])

    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in sizes.items():
        assert len(got[lang]) == min(7, n), lang

    # python reference of the same salted order
    rows = docs.select("lang", "doc_id").collect()
    by_lang = {}
    for r in rows:
        h = hashlib.md5(f"fixedn|{r['doc_id']}".encode()).hexdigest()
        by_lang.setdefault(r["lang"], []).append((h, r["doc_id"]))
    for lang, pairs in by_lang.items():
        want = {d for _, d in sorted(pairs)[:7]}
        assert got[lang] == want, lang

    # repartition-stable
    got2 = {
        (r["lang"], r["doc_id"])
        for r in stratified_fixed_n(docs.repartition(17), ["lang"], "doc_id", 7).collect()
    }
    assert got2 == {(l, d) for l, ds in got.items() for d in ds}


def test_profile_table_matches_duckdb_and_single_scan(spark):
    """One-pass profiler vs a DuckDB restatement on the orders table
    (exact-distinct mode so both engines compute the same number), plus
    a plan assertion that the whole profile is ONE scan + ONE aggregate."""
    import os

    import duckdb
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.profile import profile_table
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    prof = profile_table(orders, exact_distinct=True)
    got = {r["column"]: r.asDict() for r in prof.collect()}
    assert set(got) == set(orders.columns)

    con = duckdb.connect()
    path = os.path.join(SF_DIR, "orders.parquet")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    for col in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"):
        want = con.sql(
            f"""SELECT count(*) n, count({col}) nn, count(DISTINCT {col}) nd,
                       CAST(min({col}) AS VARCHAR) mn, CAST(max({col}) AS VARCHAR) mx
                FROM orders"""
        ).fetchone()
        g = got[col]
        assert g["n_rows"] == want[0] and g["n_nonnull"] == want[1]
        assert g["n_distinct"] == want[2]
        assert g["min_value"] == want[3] and g["max_value"] == want[4], (col, g, want)
        assert g["null_frac"] == round((want[0] - want[1]) / want[0], 6)
    # numeric mean matches DuckDB's exact decimal average
    mean = con.sql("SELECT round(avg(o_totalprice), 6) FROM orders").fetchone()[0]
    assert abs(got["o_totalprice"]["mean_value"] - float(mean)) < 1e-6
    # string length profile
    want_len = con.sql(
        "SELECT round(avg(length(o_orderpriority)), 6) FROM orders"
    ).fetchone()[0]
    assert abs(got["o_orderpriority"]["avg_len"] - float(want_len)) < 1e-6

    # scale shape: approx mode plans one scan and one aggregate pair
    plan = profile_table(orders)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_profile_table_null_and_array_columns(spark):
    """Null fractions and array-length profiling on a synthetic frame
    with planted nulls; approx-distinct lands within its rsd bound."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.profile import profile_table

    df = (
        spark.range(1000)
        .select(
            F.col("id"),
            F.when(F.col("id") % 4 != 0, F.col("id").cast("string")).alias("s"),
            F.when(F.col("id") % 2 == 0, F.array(F.col("id"), F.col("id") + 1)).alias(
                "arr"
            ),
        )
    )
    got = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert got["s"]["null_frac"] == 0.25
    assert got["arr"]["null_frac"] == 0.5
    assert got["arr"]["avg_len"] == 2.0
    assert got["arr"]["min_value"] is None  # arrays: no ordered min in report
    # HLL++ default rsd is 5%; 1000 distinct ids must land well inside
    assert abs(got["id"]["n_distinct"] - 1000) <= 100
    assert got["id"]["null_frac"] == 0.0


def test_snapshot_diff_statuses_and_pruned_shuffle(spark):
    """Diff of two perturbed document snapshots: statuses match a
    Python reference computed from the raw rows; a type-only change and
    a value<->NULL change both register; and the join plan never
    carries the wide text column (fingerprints shuffle, not documents)."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.diffing import (
        changed_rows,
        snapshot_diff,
        snapshot_diff_summary,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    old = docs.filter("doc_id < 400")  # 0..399
    new = (
        docs.filter("doc_id >= 20")    # 20..499: 0..19 removed, 400..499 added
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 50 == 0, F.concat(F.col("text"), F.lit(" EDIT")))
            .otherwise(F.col("text")),
        )
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new, ["doc_id"]).collect()}

    for i in range(0, 20):
        assert got[i] == "removed", i
    for i in range(400, 500):
        assert got[i] == "added", i
    for i in range(20, 400):
        assert got[i] == ("changed" if i % 50 == 0 else "unchanged"), i

    summary = {r["status"]: r["n"] for r in
               snapshot_diff_summary(old, new, ["doc_id"]).collect()}
    assert summary == {
        "removed": 20,
        "added": 100,
        "changed": sum(1 for i in range(20, 400) if i % 50 == 0),
        "unchanged": sum(1 for i in range(20, 400) if i % 50 != 0),
    }

    # changed_rows fetches full new-side rows for added+changed only
    ch = changed_rows(old, new, ["doc_id"])
    assert ch.count() == summary["added"] + summary["changed"]
    assert set(ch.columns) == {"doc_id", "text", "lang", "status"}

    # the diff join itself must not shuffle the text column
    plan = snapshot_diff(old, new, ["doc_id"])._jdf.queryExecution().executedPlan().toString()
    import re as _re
    exchanges = [m for m in plan.splitlines() if "Exchange" in m]
    assert exchanges, "expected a shuffle on the key"
    assert not any("text" in l for l in exchanges), exchanges


def test_snapshot_diff_null_and_type_sensitivity(spark):
    from mongo2mysql_spark.operators.diffing import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, None, "y")],
        "k int, c1 string, c2 string",
    )
    new = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "", "y")],
        "k int, c1 string, c2 string",
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed"}  # NULL vs "" differ


def test_rolling_zscore_matches_python_and_flags_planted_spike(spark):
    """Rolling z-score on real events vs a pure-Python trailing-window
    reference; a planted 100x spike is flagged while its neighbors are
    not, and the spike does not poison its own baseline (the frame
    excludes the current row)."""
    import math

    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.anomaly import rolling_zscore
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = (
        load_table(spark, SF_DIR, "events")
        .filter("user_id < 40")
        .select("user_id", "event_id", "ts", "value")
    )
    # plant one enormous spike per user on their 25th event
    w25 = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 997 == 0, F.col("value") * 100 + 1e6).otherwise(
            F.col("value")
        ),
    )
    out = rolling_zscore(
        w25, ["user_id"], "ts", "value", window=20, min_points=5,
        threshold=3.0, tiebreak_cols=["event_id"],
    ).collect()

    # python reference
    series: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series.setdefault(r["user_id"], []).append(r)
    n_checked = n_anom = 0
    for uid, rows in series.items():
        vals = [r["value"] for r in rows]
        for i, r in enumerate(rows):
            prev = vals[max(0, i - 20):i]
            if len(prev) < 5:
                assert r["zscore"] is None and not r["is_anomaly"], (uid, i)
                continue
            mean = sum(prev) / len(prev)
            var = sum((x - mean) ** 2 for x in prev) / len(prev)
            if var <= 0:
                assert r["zscore"] is None
                continue
            want = (r["value"] - mean) / math.sqrt(var)
            assert abs(r["zscore"] - want) < 1e-6 * max(1, abs(want)), (uid, i)
            assert r["is_anomaly"] == (abs(want) > 3.0)
            n_checked += 1
            n_anom += r["is_anomaly"]
    assert n_checked > 300
    # every planted spike with a warmed-up window is flagged
    planted = [
        r for r in out
        if r["event_id"] % 997 == 0 and r["zscore"] is not None
    ]
    assert planted and all(r["is_anomaly"] for r in planted)
    # anomalies are rare outside the plants (self-masking would flag many)
    others = [r for r in out if r["event_id"] % 997 != 0 and r["is_anomaly"]]
    assert len(others) < n_checked * 0.05


def test_rollup_incremental_refresh_equals_one_shot(spark, tmp_path):
    """Feeding events in three out-of-order batches through the
    partial-store refresh yields EXACTLY the one-shot hypertable rollup
    (decimal partials merge associatively), and a persisted store merged
    via the partition-scoped lake merge only rewrites touched dates."""
    import os

    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.rollup import (
        hypertable_rollup,
        rollup_levels_from_partials,
        rollup_merge,
        rollup_partials,
    )
    from mongo2mysql_spark.sources import load_table
    from mongo2mysql_spark.sources.lake import merge_into_partitioned
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    want = sorted(
        map(
            repr,
            hypertable_rollup(
                ev, "ts", ["event_type"], F.col("value"), ("hour", "day", "week")
            ).collect(),
        )
    )

    # 3 disjoint batches, deliberately NOT in time order (late data)
    batches = [
        ev.filter("event_id % 3 = 1"),
        ev.filter("event_id % 3 = 0"),
        ev.filter("event_id % 3 = 2"),
    ]
    store = None
    for b in batches:
        store = rollup_merge(
            store, rollup_partials(b, "ts", ["event_type"], F.col("value")),
            ["event_type"],
        ).localCheckpoint()
    got = sorted(
        map(
            repr,
            rollup_levels_from_partials(store, ["event_type"]).collect(),
        )
    )
    assert got == want

    # persisted store: second batch's merge touches only its own dates
    path = str(tmp_path / "partial_store")
    with_date = lambda df: df.withColumn("d", F.to_date("bucket"))  # noqa: E731
    p0 = rollup_partials(batches[0], "ts", ["event_type"], F.col("value"))
    with_date(p0).write.partitionBy("d").parquet(path)
    all_dirs = {d for d in os.listdir(path) if d.startswith("d=")}

    p1 = rollup_partials(
        batches[1].filter(F.col("ts") < "2024-01-03"), "ts", ["event_type"],
        F.col("value"),
    )
    # materialize before the directory swap below invalidates the lazy
    # scan of the pre-merge store
    merged_store = rollup_merge(
        spark.read.parquet(path).drop("d"), p1, ["event_type"]
    ).localCheckpoint()
    touched = merge_into_partitioned(
        spark, path, with_date(
            merged_store.join(
                p1.select(F.to_date("bucket").alias("__td")).distinct(),
                F.to_date("bucket") == F.col("__td"),
            ).drop("__td")
        ),
        ["bucket", "event_type"], "d",
    )
    assert touched and set(f"d={t}" for t in touched) < all_dirs
    # store on disk now equals the merged logical store
    back = spark.read.parquet(path).drop("d")
    assert sorted(map(repr, back.select("bucket", "event_type", "__n").collect())) == \
        sorted(map(repr, merged_store.select("bucket", "event_type", "__n").collect()))


def test_psi_drift_report_matches_python_and_verdicts(spark):
    """PSI drift between two halves of the same corpus is ~0 (stable);
    a planted scale shift and a planted null-rate change are both
    flagged; the PSI value matches a pure-Python recomputation over the
    same baseline-quantile edges."""
    import math

    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.drift import _bucket_edges, psi_report
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    old = ev.filter("event_id % 2 = 0")
    same = ev.filter("event_id % 2 = 1")
    shifted = same.select(
        "event_id", (F.col("value") * 3 + 10).alias("value")
    )
    nulled = same.select(
        "event_id",
        F.when(F.col("event_id") % 3 != 0, F.col("value")).alias("value"),
    )

    stable = psi_report(old, same, ["value"]).first()
    assert stable["verdict"] == "stable" and stable["psi"] < 0.05

    shift = psi_report(old, shifted, ["value"]).first()
    assert shift["verdict"] == "shifted" and shift["psi"] > 0.25

    nullshift = psi_report(old, nulled, ["value"]).first()
    assert nullshift["psi"] > 0.1  # a third of values vanishing is drift

    # python reference over the same edges
    edges = _bucket_edges(old, "value", 10)

    def bucket(v):
        if v is None:
            return -1
        b = 0
        for i, e in enumerate(edges):
            if v > e:
                b = i + 1
        return b

    def counts(df):
        out = {}
        for r in df.collect():
            b = bucket(r["value"])
            out[b] = out.get(b, 0) + 1
        return out

    co, cn = counts(old), counts(shifted)
    buckets = sorted(set(co) | set(cn))
    s = 0.5
    n_o = sum(co.values()) + s * len(buckets)
    n_n = sum(cn.values()) + s * len(buckets)
    want = sum(
        ((cn.get(b, 0) + s) / n_n - (co.get(b, 0) + s) / n_o)
        * math.log(((cn.get(b, 0) + s) / n_n) / ((co.get(b, 0) + s) / n_o))
        for b in buckets
    )
    assert abs(shift["psi"] - want) < 1e-9


def test_pack_manifest_tiles_sequences_exactly(spark):
    """The per-sequence manifest tiles every sequence wall-to-wall:
    full sequences sum to exactly seq_len with contiguous offsets, each
    doc's slices are contiguous and conserve its token count, and the
    manifest agrees with a Python replay of the packed stream."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.packing import pack_manifest, pack_sequences
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    L = 512
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    packed = pack_sequences(docs, "n_tok", "doc_id", seq_len=L)
    man = pack_manifest(packed, "n_tok", L).collect()

    by_seq: dict[int, list] = {}
    by_doc: dict[int, list] = {}
    for r in man:
        by_seq.setdefault(r["seq_id"], []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)

    last_seq = max(by_seq)
    for sid, rows in by_seq.items():
        rows.sort(key=lambda r: r["seq_offset"])
        total = sum(r["n_tok"] for r in rows)
        if sid < last_seq:
            assert total == L, sid
        # offsets tile without gaps or overlaps
        pos = rows[0]["seq_offset"]
        assert pos == 0 or sid == 0  # every seq starts filled from 0
        for r in rows:
            assert r["seq_offset"] == pos, (sid, r)
            pos += r["n_tok"]

    n_tok = {r["doc_id"]: r["n_tok"] for r in docs.collect()}
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r["doc_start"])
        assert sum(r["n_tok"] for r in rows) == n_tok[did]
        assert rows[0]["doc_start"] == 0
        pos = 0
        for r in rows:
            assert r["doc_start"] == pos
            pos += r["n_tok"]

    # python replay: concatenate docs in id order and slice
    stream = []
    for r in sorted(docs.collect(), key=lambda r: r["doc_id"]):
        stream.extend([r["doc_id"]] * r["n_tok"])
    for sid, rows in by_seq.items():
        want = stream[sid * L : (sid + 1) * L]
        got = []
        for r in sorted(rows, key=lambda r: r["seq_offset"]):
            got.extend([r["doc_id"]] * r["n_tok"])
        assert got == want, sid


def test_rollup_distinct_sketch_partials_reaggregate_exactly(spark):
    """HLL-extended partials: merging three out-of-order batches and
    rolling up to coarser levels gives the SAME distinct estimate as a
    one-shot sketch over all raw rows (sketch-union associativity), and
    the estimate tracks the exact distinct count within HLL tolerance."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.rollup import (
        rollup_levels_from_partials,
        rollup_merge,
        rollup_partials,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    batches = [ev.filter(f"event_id % 3 = {i}") for i in (1, 0, 2)]
    store = None
    for b in batches:
        store = rollup_merge(
            store,
            rollup_partials(b, "ts", ["event_type"], F.col("value"),
                            distinct_col="user_id"),
            ["event_type"],
        ).localCheckpoint()
    got = rollup_levels_from_partials(store, ["event_type"], ("hour", "day", "week"))

    one_shot_store = rollup_partials(
        ev, "ts", ["event_type"], F.col("value"), distinct_col="user_id"
    )
    want = rollup_levels_from_partials(
        one_shot_store, ["event_type"], ("hour", "day", "week")
    )
    g = sorted(map(repr, got.collect()))
    w = sorted(map(repr, want.collect()))
    assert g == w

    # accuracy: weekly per-type estimate within HLL tolerance of exact
    exact = {
        (r["bucket"], r["event_type"]): r["d"]
        for r in ev.groupBy(
            F.date_trunc("week", "ts").alias("bucket"), "event_type"
        ).agg(F.count_distinct("user_id").alias("d")).collect()
    }
    for r in got.filter("granularity = 'week'").collect():
        e = exact[(r["bucket"], r["event_type"])]
        assert abs(r["n_distinct"] - e) <= max(3, 0.05 * e), (r, e)


def test_psi_categorical_language_mix(spark):
    """Categorical PSI on the documents language column: two random
    halves are stable; dropping a whole language and inflating another
    is flagged as shifted; a category unseen in the baseline folds into
    __other__ and still registers."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.drift import psi_report_categorical
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    old = docs.filter("doc_id % 2 = 0")
    same = docs.filter("doc_id % 2 = 1")
    assert psi_report_categorical(old, same, ["lang"]).first()["verdict"] == "stable"

    langs = [r[0] for r in old.groupBy("lang").count()
             .orderBy(F.desc("count")).collect()]
    major = langs[0]
    skewed = same.withColumn(
        "lang", F.when(F.col("lang") == major, F.lit(langs[-1])).otherwise(F.col("lang"))
    )
    r = psi_report_categorical(old, skewed, ["lang"]).first()
    assert r["verdict"] == "shifted" and r["psi"] > 0.25

    novel = same.withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, F.lit("zz_new")).otherwise(F.col("lang"))
    )
    r2 = psi_report_categorical(old, novel, ["lang"]).first()
    assert r2["psi"] > 0.1  # a third of rows moving to __other__ is drift


def test_rolling_frame_stats_agrees_with_float_zscore(spark):
    """The exact-decimal formulation (rolling_frame_stats) must reach
    the same anomaly verdict as the floating rolling_zscore on every
    ready row of real events — the squared-inequality rewrite is
    algebraically identical, quantization aside."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.anomaly import (
        rolling_frame_stats,
        rolling_zscore,
    )
    from mongo2mysql_spark.sources import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    kw = dict(window=20, min_points=5, tiebreak_cols=["event_id"])
    exact = {
        r["event_id"]: r
        for r in rolling_frame_stats(
            ev, ["event_type"], "ts", "value", threshold=3, **kw
        ).collect()
    }
    floaty = rolling_zscore(
        ev, ["event_type"], "ts", "value", threshold=3.0, **kw
    ).collect()
    assert len(exact) == len(floaty) > 0
    n_anom = 0
    for r in floaty:
        e = exact[r["event_id"]]
        assert e["is_ready"] == (r["roll_mean"] is not None)
        assert e["is_constant_window"] == r["is_constant_window"]
        if r["zscore"] is not None:
            # borderline |z| == 3 up to quantization: allow either only
            # within a hair of the threshold
            if abs(abs(r["zscore"]) - 3.0) > 1e-6:
                assert e["is_anomaly"] == r["is_anomaly"], r["event_id"]
        n_anom += int(e["is_anomaly"])
    assert n_anom > 0  # real data has tails past 3 sigma


def test_rolling_frame_stats_matches_python_reference_random(spark):
    """rolling_frame_stats vs a pure-Python exact reference over random
    series including constant runs, planted spikes, negatives, and
    sub-min_points keys — the integer inequality must agree everywhere
    (no float path anywhere to drift)."""
    import random

    from pyspark.sql import Row

    from mongo2mysql_spark.operators.anomaly import rolling_frame_stats

    rng = random.Random(42)
    rows = []
    for key in range(6):
        n = rng.choice([2, 4, 8, 40])           # includes < min_points keys
        base = rng.choice([0.0, -50.0, 1000.0])
        for i in range(n):
            if key == 3:
                v = 7.25                         # constant series
            elif rng.random() < 0.05:
                v = base + 5000.0                # spike
            else:
                v = base + rng.randint(-3, 3) * 0.5
            rows.append(Row(k=key, seq=i, val=v))
    df = spark.createDataFrame(rows)
    got = {
        (r["k"], r["seq"]): r
        for r in rolling_frame_stats(
            df, ["k"], "seq", "val", window=5, min_points=3, threshold=2
        ).collect()
    }
    series: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.k, r.seq)):
        series.setdefault(r.k, []).append(r)
    for k, rs in series.items():
        vq = [round(r.val * 10**6) for r in rs]  # exact: vals are 2-dp
        for i, r in enumerate(rs):
            prev = vq[max(0, i - 5):i]
            g = got[(k, r.seq)]
            n, s, q = len(prev), sum(prev), sum(x * x for x in prev)
            assert g["n_prev"] == n and g["frame_sum_q"] == s
            assert int(g["frame_sumsq_q"]) == q
            ready = n >= 3
            var_n2 = n * q - s * s
            assert g["is_ready"] == ready
            assert g["is_constant_window"] == (ready and var_n2 == 0)
            d = n * vq[i] - s
            assert g["is_anomaly"] == (ready and var_n2 > 0 and d * d > 4 * var_n2)


def test_pagerank_decimal_exact_and_partition_invariant(spark):
    """operators/pagerank: the fixed-iteration power method must be
    BIT-equal across partitionings (exact decimal message sums — the
    property that makes graph centrality hashable at all), rank the
    star hub above its leaves, hold isolated nodes at the teleport
    mass, and keep total mass <= 1 (dangling mass is dropped, not
    redistributed — documented variant)."""
    from mongo2mysql_spark.operators.pagerank import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    E = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1), (5, 6)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, "id", iters=3).collect()
    }
    again = {
        r["node"]: r["rank"]
        for r in pagerank(
            nodes.repartition(5), edges.repartition(3), "id", iters=3
        ).collect()
    }
    assert got == again, "ranks drifted across partitionings"
    assert got[0] > got[1] > got[2], "hub must outrank spoke outranks leaf"
    assert abs(got[7] - 0.15 / 8) < 1e-15  # isolated node: teleport mass
    assert sum(got.values()) <= 1.0 + 1e-12


def test_fk_orphan_stats_catches_planted_orphans(spark):
    """operators/integrity: a planted dangling FK is counted; clean
    relations report zero with fraction 0.0; NULL FKs are excluded."""
    from mongo2mysql_spark.operators.integrity import fk_orphan_stats

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id bigint, fk bigint"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk bigint")
    row = fk_orphan_stats(child, "fk", parent, "pk", "c->p").collect()[0]
    assert (row.n_rows, row.matched, row.n_orphans) == (3, 2, 1)
    assert row.orphan_frac == round(1 / 3, 6)
    clean = fk_orphan_stats(
        child.filter("fk = 10"), "fk", parent, "pk", "c->p"
    ).collect()[0]
    assert clean.n_orphans == 0 and clean.orphan_frac == 0.0
    # duplicate parent keys must NOT explode child rows
    dup_parent = parent.unionByName(parent)
    dup = fk_orphan_stats(child, "fk", dup_parent, "pk", "c->p").collect()[0]
    assert (dup.n_rows, dup.matched) == (3, 2)


def test_cusum_planted_level_shift(spark):
    """Page-CUSUM in prefix form: quiet before a planted upward level
    shift, alarming shortly after it, and equal to the textbook
    sequential recurrence computed driver-side."""
    from datetime import datetime, timedelta

    from mongo2mysql_spark.operators.drift import cusum_changepoints

    base = datetime(2024, 3, 1)
    vals = [10.0] * 50 + [20.0] * 50
    rows = [
        (i, base + timedelta(minutes=i), "a", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, k string, v double"
    )
    slack_q, thr_q = 2_000_000, 50_000_000
    out = {
        r.id: r
        for r in cusum_changepoints(
            df, ["k"], "v", "ts", "event_id",
            slack_q=slack_q, threshold_q=thr_q,
        ).collect()
    }
    # textbook recurrence, exact integers
    target_q = sum(int(v * 1_000_000) for v in vals) // len(vals)
    s, expect = 0, {}
    for i, v in enumerate(vals):
        s = max(0, s + int(v * 1_000_000) - target_q - slack_q)
        expect[i] = (s, s > thr_q)
    assert {i: (r.cusum_s, r.is_alarm) for i, r in out.items()} == expect
    assert not any(a for i, (s_, a) in expect.items() if i < 50)
    assert any(a for i, (s_, a) in expect.items() if i >= 50)
    assert out[0].target_q == target_q


def test_sliding_distinct_matches_bruteforce(spark):
    """Covered-window expansion equals the brute-force trailing-window
    distinct count; re-appearing users count once per window."""
    import random
    from datetime import datetime, timedelta

    from mongo2mysql_spark.operators.rollup import sliding_distinct

    base = datetime(2024, 3, 1)
    rng = random.Random(71)
    rows = [
        (
            i,
            base + timedelta(hours=rng.randrange(0, 60),
                             minutes=rng.randrange(60)),
            rng.randrange(8),
            rng.choice(["a", "b"]),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    K = 4
    got = {
        (r.key, r.window_start): r.n_active
        for r in sliding_distinct(
            df, "event_type", "ts", "user_id", window_hours=K
        ).collect()
    }
    # brute force over hours
    acts: dict = {}
    for _i, ts, u, k in rows:
        h = int(ts.timestamp()) // 3600
        acts.setdefault(k, set()).add((u, h))
    expect = {}
    for k, cells in acts.items():
        hours = {h for _u, h in cells}
        for wh in range(min(hours), max(hours) + K):
            users = {u for u, h in cells if wh - K < h <= wh}
            if users:
                expect[(k, datetime.utcfromtimestamp(wh * 3600))] = len(users)
    got_n = {(k, w.replace(tzinfo=None)): n for (k, w), n in got.items()}
    assert got_n == expect


def test_sliding_distinct_delta_equals_expansion(spark):
    """r13: the interval-delta-encoded sliding distinct must equal the
    covered-window EXPANSION form (cells x k explode + countDistinct)
    row-for-row — including run-merge edges (gaps of exactly k and
    k+1), multi-key, non-default interval_seconds, and the shared
    activity_cells path (with the HLL branch fed from the same
    cells)."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.rollup import (
        activity_cells,
        sliding_distinct,
        sliding_distinct_hll,
    )

    base = datetime(2024, 3, 1)
    rng = random.Random(137)
    rows = [
        (
            i,
            base + timedelta(hours=rng.randrange(0, 200),
                             minutes=rng.randrange(60)),
            rng.randrange(12),
            rng.choice(["a", "b", "c"]),
        )
        for i in range(500)
    ]
    # deterministic gap edges: one user active at hours 0, k, k+1, 2k+2
    rows += [
        (10_000 + j, base + timedelta(hours=hh), 99, "a")
        for j, hh in enumerate((0, 4, 5, 10))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    for window_hours, interval in ((4, 3600), (24, 3600), (4, 7200)):
        steps = max(1, (window_hours * 3600) // interval)
        cells = activity_cells(df, "event_type", "ts", "user_id", interval)
        expansion = {
            (r["key"], r["window_start"]): r["n_active"]
            for r in cells.select(
                "key",
                "user",
                F.explode(
                    F.sequence(F.col("__h"), F.col("__h") + (steps - 1))
                ).alias("__wh"),
            )
            .groupBy("key", "__wh")
            .agg(F.countDistinct("user").cast("long").alias("n_active"))
            .select(
                "key",
                F.timestamp_seconds(F.col("__wh") * interval).alias(
                    "window_start"
                ),
                "n_active",
            )
            .collect()
        }
        got = {
            (r["key"], r["window_start"]): r["n_active"]
            for r in sliding_distinct(
                df, "event_type", "ts", "user_id",
                window_hours=window_hours, interval_seconds=interval,
            ).collect()
        }
        assert got == expansion, (window_hours, interval)
        # shared-cells path identical
        got_cells = {
            (r["key"], r["window_start"]): r["n_active"]
            for r in sliding_distinct(
                df, "event_type", "ts", "user_id",
                window_hours=window_hours, interval_seconds=interval,
                cells=cells,
            ).collect()
        }
        assert got_cells == expansion, (window_hours, interval)
    # HLL from shared cells == HLL from raw (duplicate-insensitive)
    cells = activity_cells(df, "event_type", "ts", "user_id", 3600)
    raw = {
        (r["key"], r["window_start"]): r["n_est"]
        for r in sliding_distinct_hll(
            df, "event_type", "ts", "user_id", window_hours=4
        ).collect()
    }
    shared = {
        (r["key"], r["window_start"]): r["n_est"]
        for r in sliding_distinct_hll(
            df, "event_type", "ts", "user_id", window_hours=4, cells=cells
        ).collect()
    }
    assert raw == shared


def test_encoding_stats_hand_case(spark):
    """Runs / distinct / dict-bits on a hand-checkable layout; run
    boundaries reset per row-group, NULL handled null-safely."""
    from mongo2mysql_spark.operators.profile import encoding_stats

    rows = [
        # (pos, grp 0): a a a b b  -> 2 runs of col c
        (0, "a"), (1, "a"), (2, "a"), (3, "b"), (4, "b"),
        # (pos, grp 1): b b NULL NULL a -> runs: b, NULL, a = 3
        (5, "b"), (6, "b"), (7, None), (8, None), (9, "a"),
    ]
    df = spark.createDataFrame(rows, "pos long, c string")
    got = encoding_stats(df, ["c"], ["pos"], "pos DIV 5").collect()[0]
    assert got["n_rows"] == 10
    assert got["n_distinct"] == 2  # count_distinct ignores NULL
    assert got["runs"] == 5  # 2 in group 0 + 3 in group 1
    assert got["avg_run_len"] == 2.0
    assert got["dict_bits"] == 1  # 2 values -> 1 bit
    import pytest as _pytest

    with _pytest.raises(ValueError):
        encoding_stats(df, [], ["pos"], "pos DIV 5")


def test_encoding_stats_dict_bits_power_of_two_boundary(spark):
    """dict_bits is integer bit-length, immune to the cross-engine
    float-log2 rounding at exact powers of two: 4 distinct -> 2 bits,
    5 distinct -> 3 bits."""
    from mongo2mysql_spark.operators.profile import encoding_stats

    four = spark.createDataFrame(
        [(i, str(i % 4)) for i in range(16)], "pos long, c string"
    )
    five = spark.createDataFrame(
        [(i, str(i % 5)) for i in range(15)], "pos long, c string"
    )
    assert encoding_stats(four, ["c"], ["pos", "c"], "0").collect()[0][
        "dict_bits"
    ] == 2
    assert encoding_stats(five, ["c"], ["pos", "c"], "0").collect()[0][
        "dict_bits"
    ] == 3


def test_functional_dependencies_hold_and_break(spark):
    from mongo2mysql_spark.operators.profile import functional_dependencies

    df = spark.createDataFrame(
        [(1, "x", 10), (1, "x", 11), (2, "y", 12), (3, "y", 13), (3, "z", 14)],
        "k long, v string, u long",
    )
    got = {
        r["column"]: (r["n_distinct"], r["pair_distinct"], r["fd_holds"])
        for r in functional_dependencies(
            [(df, "k", "v", "k->v"), (df, "v", "k", "v->k"),
             (df, "u", "k", "u->k")]
        ).collect()
    }
    # k=3 maps to both 'y' and 'z' -> k->v broken
    assert got["k->v"] == (3, 4, False)
    # v='y' maps to k in {2, 3} -> v->k broken
    assert got["v->k"] == (3, 4, False)
    # u is unique -> u->k holds
    assert got["u->k"] == (5, 5, True)


def test_ngram_novelty_hand_case(spark):
    """First-occurrence attribution by min id; short docs emit
    (0, 0, NULL); copies score zero novelty."""
    from mongo2mysql_spark.operators.novelty import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),      # grams: abc, bcd — both novel
            (2, "a b c"),        # abc seen in doc 1 -> 0/1
            (3, "x y z a b c"),  # xyz, yza, zab novel; abc old -> 3/4
            (4, "q r"),          # too short -> no grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in ngram_novelty(
            docs, "doc_id", F.split(F.col("text"), " "), n=3
        ).collect()
    }
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (4, 3, 0.75)
    assert got[4] == (0, 0, None)


def test_heaps_growth_monotone_and_exact(spark):
    """Vocabulary and token counts at each checkpoint match a naive
    prefix scan; both curves are monotone."""
    from mongo2mysql_spark.operators.novelty import heaps_growth

    rows = [
        (10, "a b c"),
        (20, "a b d"),
        (30, "e"),
        (40, "a e f g"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["checkpoint"]: (r["id_max"], r["tokens_seen"], r["vocab"])
        for r in heaps_growth(
            docs, "doc_id", F.split(F.col("text"), " "), checkpoints=4
        ).collect()
    }
    # thresholds: 40*i DIV 4 = 10, 20, 30, 40
    assert got[1] == (10, 3, 3)   # a b c
    assert got[2] == (20, 6, 4)   # + a b d
    assert got[3] == (30, 7, 5)   # + e
    assert got[4] == (40, 11, 7)  # + a e f g
    toks = [v[1] for _, v in sorted(got.items())]
    voc = [v[2] for _, v in sorted(got.items())]
    assert toks == sorted(toks) and voc == sorted(voc)


def test_posting_compression_hand_case(spark):
    """Exact varint byte accounting on a hand-built posting list,
    including the first-gap id+1 rule and a 2-byte gap."""
    from mongo2mysql_spark.operators.postings import posting_compression

    # token 'a' in docs 0, 5, 200 -> gaps 1, 5, 195: 1 + 1 + 2 bytes
    # token 'b' in docs 100, 300 -> gaps 101, 200: 1 + 2 bytes
    rows = [(0, "a"), (5, "a"), (200, "a"), (100, "b"), (300, "b x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["token"]: (r["df"], r["bytes_delta"], r["bytes_plain"], r["ratio"])
        for r in posting_compression(
            docs, "doc_id", F.split(F.col("text"), " "), k=10
        ).collect()
    }
    assert got["a"] == (3, 4, 24, 4 / 24)
    # gap 200 >= 128 -> 2 bytes
    assert got["b"] == (2, 3, 16, 3 / 16)
    assert got["x"][0] == 1


def test_posting_compression_duplicate_tokens_count_once(spark):
    """Postings are DISTINCT (token, doc): repeated occurrences inside
    one doc do not inflate df or bytes."""
    from mongo2mysql_spark.operators.postings import posting_compression

    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "a")], "doc_id long, text string"
    )
    got = posting_compression(
        docs, "doc_id", F.split(F.col("text"), " "), k=5
    ).collect()
    assert len(got) == 1 and got[0]["df"] == 2 and got[0]["bytes_delta"] == 2


def test_exact_dup_spans_hand_case(spark):
    """A planted 4-gram shared by two docs (and repeated within one)
    is marked and gap-merged; unique text is untouched."""
    from mongo2mysql_spark.operators.passages import exact_dup_spans

    shared = "w x y z"
    docs = spark.createDataFrame(
        [
            (1, f"a b c {shared} d e f"),
            (2, f"p q {shared} r s"),
            # doc 3: the shared run twice, back to back -> ONE merged span
            (3, f"{shared} {shared}"),
            (4, "entirely unique tokens here only once"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (
            r["n_before"], r["n_spans"], r["n_dup_tokens"], r["n_after"],
            r["span_min_start"], r["span_max_end"],
        )
        for r in exact_dup_spans(docs, "doc_id", "text", k=4).collect()
    }
    # doc 1: tokens 3-6 are the shared gram -> one span of 4 tokens
    assert got[1] == (10, 1, 4, 6, 3, 7)
    # doc 2: tokens 2-5
    assert got[2] == (8, 1, 4, 4, 2, 6)
    # doc 3: positions 0..4 all start a repeated 4-gram ("z w x y" spans
    # the seam and also repeats? no — but 0 and 4 both hit, gap 4 <= k
    # -> merged into one span covering the whole doc)
    assert got[3][1] == 1 and got[3][2] == 8 and got[3][3] == 0
    # doc 4: nothing repeated
    assert got[4] == (6, 0, 0, 6, None, None)


def test_exact_dup_spans_rejects_small_k(spark):
    from mongo2mysql_spark.operators.passages import exact_dup_spans

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_dup_spans(df, "doc_id", "text", k=1)


def test_label_propagation_repairs_minority_and_keeps_isolated(spark):
    from mongo2mysql_spark.operators.labelprop import label_propagation

    labels = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "fr")],
        "id long, label string",
    )
    # triangle 1-2-3 (majority en), node 4 isolated
    pairs = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation(labels, edges, iters=2).collect()
    }
    # node 3's neighbors are en,en -> repaired; 4 keeps fr
    assert got[3] == "en" and got[4] == "fr"
    assert got[1] == "en" and got[2] == "en"


def test_label_propagation_tie_resolves_lexicographically(spark):
    from mongo2mysql_spark.operators.labelprop import label_propagation

    labels = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "c")], "id long, label string"
    )
    # node 3 has neighbors 1 (b) and 2 (a): 1-1 tie -> 'a' wins
    pairs = [(3, 1), (3, 2)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation(labels, edges, iters=1).collect()
    }
    assert got[3] == "a"
    # self-inclusive: 1 votes {b(self), c} tie -> 'b'; 2 votes
    # {a(self), c} tie -> 'a'
    assert got[1] == "b" and got[2] == "a"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        label_propagation(labels, edges, iters=0)


def test_label_propagation_synchronous_rounds(spark):
    """Round 2 uses ROUND-1 labels, not a mix — a chain a-b-c shifts
    labels one hop per round."""
    from mongo2mysql_spark.operators.labelprop import label_propagation

    labels = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id long, label string"
    )
    pairs = [(1, 2), (2, 3)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    r1 = {
        r["id"]: r["label"]
        for r in label_propagation(labels, edges, iters=1).collect()
    }
    # self-inclusive round 1: node 1 {x(self), y} -> 'x'; node 2
    # {y(self), x, z} 3-way tie -> 'x'; node 3 {z(self), y} -> 'y'
    assert r1 == {1: "x", 2: "x", 3: "y"}
    r2 = {
        r["id"]: r["label"]
        for r in label_propagation(labels, edges, iters=2).collect()
    }
    # from r1 synchronously: 1 {x, x} -> x; 2 {x, x, y} -> x;
    # 3 {y(self), 2's ROUND-1 'x'} tie -> x
    assert r2 == {1: "x", 2: "x", 3: "x"}


def test_posting_compression_sharded_equals_single_window(spark):
    """The segmented build (bounded window partitions + boundary-gap
    reconstruction) produces the IDENTICAL byte accounting as the
    naive per-term window — the same-answer-different-path contract
    the slot rides."""
    import random

    from mongo2mysql_spark.operators.postings import posting_compression

    random.seed(5)
    rows = []
    for doc in random.sample(range(0, 3000), 400):
        toks = " ".join(
            random.choice("alpha beta gamma delta common".split())
            for _ in range(6)
        )
        rows.append((doc, toks))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        r["token"]: (r["df"], r["bytes_delta"])
        for r in posting_compression(
            docs, "doc_id", F.split(F.col("text"), " "), k=50
        ).collect()
    }
    for span in (1, 7, 64, 10_000):
        sharded = {
            r["token"]: (r["df"], r["bytes_delta"])
            for r in posting_compression(
                docs, "doc_id", F.split(F.col("text"), " "), k=50,
                shard_span=span,
            ).collect()
        }
        assert sharded == base, f"span={span}"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        posting_compression(
            docs, "doc_id", F.split(F.col("text"), " "), shard_span=0
        )


def test_sliding_distinct_hll_tracks_exact(spark):
    """The HLL hour-partial path estimates every exact window within
    the branch tolerance (max(10, 8%)) on the fixture-scale stream,
    and is duplicate-insensitive (no dedup shuffle needed)."""
    from datetime import datetime, timedelta
    import random

    from mongo2mysql_spark.operators.rollup import (
        sliding_distinct,
        sliding_distinct_hll,
    )

    random.seed(11)
    t0 = datetime(2024, 6, 1)
    rows = []
    for i in range(4000):
        rows.append(
            (
                i,
                t0 + timedelta(minutes=random.randint(0, 72 * 60)),
                random.randint(1, 300),
                random.choice(["a", "b"]),
            )
        )
    # duplicates: every event twice (HLL must not double-count)
    rows += [(i + 10_000, ts, u, k) for i, ts, u, k in rows[:1000]]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    exact = {
        (r["key"], r["window_start"]): r["n_active"]
        for r in sliding_distinct(
            df, "event_type", "ts", "user_id", window_hours=6
        ).collect()
    }
    est = {
        (r["key"], r["window_start"]): r["n_est"]
        for r in sliding_distinct_hll(
            df, "event_type", "ts", "user_id", window_hours=6
        ).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(10.0, 0.08 * n), (k, n, est[k])


def test_lsh_plan_fixed_point_curve(spark):
    """The banding s-curve in exact 1e-6 fixed point: matches the
    closed-form float curve within quantization, is monotone in s,
    and b=1/r=n vs b=n/r=1 behave as AND- / OR-amplification."""
    from mongo2mysql_spark.operators.dedup import lsh_plan

    rows = lsh_plan(spark, n_hashes=16).collect()
    assert len(rows) == 5 * 19
    by = {(r["bands"], r["rows_per_band"], r["s6"]): r["p6"] for r in rows}
    # closed form check at (8, 2, s=0.5): 1-(1-0.25)^8 = 0.8998871...
    assert abs(by[(8, 2, 500_000)] - 899_887) <= 2
    # monotone in s for every factorization
    for b in (1, 2, 4, 8, 16):
        ps = [by[(b, 16 // b, i * 50_000)] for i in range(1, 20)]
        assert ps == sorted(ps)
    # AND-only (1 band, 16 rows) is tiny at s=0.9: 0.9^16 ~ 0.185
    assert abs(by[(1, 16, 900_000)] - 185_302) <= 20
    # OR-only (16 bands, 1 row) is near 1 at s=0.5: 1-0.5^16
    assert by[(16, 1, 500_000)] >= 999_900
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_plan(spark, n_hashes=0)
    with _pytest.raises(ValueError):
        lsh_plan(spark, s_steps=18)  # 19 does not divide 1e6


def test_hist_join_estimate_pk_fk_near_exact(spark):
    """Shared-boundary histogram estimate: exact on a PK-FK join
    (n_b == d_b per bucket collapses the formula to sum n_a), sane on
    a skewed many-to-many, and the scaled-integer total equals the
    sum of bucket terms."""
    import random

    from mongo2mysql_spark.operators.histjoin import hist_join_estimate

    random.seed(9)
    fk = spark.createDataFrame(
        [(random.randint(0, 199),) for _ in range(3000)], "k long"
    )
    pk = spark.createDataFrame([(i,) for i in range(200)], "k long")
    rows = hist_join_estimate(fk, "k", pk, "k", n_buckets=8,
                              with_exact=True).collect()
    total = [r for r in rows if r["bucket"] == -1][0]
    assert total["exact"] == 3000
    assert abs(total["est"] - 3000) < 1.0  # PK-FK: near-exact
    bucket_sum = sum(r["est"] for r in rows if r["bucket"] != -1)
    assert abs(bucket_sum - total["est"]) < 1e-3
    # many-to-many with skew: estimate within 2x of exact here
    mm_a = spark.createDataFrame(
        [(random.choice([1, 1, 1, 2, 50]),) for _ in range(500)], "k long"
    )
    mm_b = spark.createDataFrame(
        [(random.choice([1, 2, 2, 50, 51]),) for _ in range(500)], "k long"
    )
    mm = hist_join_estimate(mm_a, "k", mm_b, "k", n_buckets=4,
                            with_exact=True).collect()
    t = [r for r in mm if r["bucket"] == -1][0]
    assert t["exact"] > 0 and 0.5 <= t["est"] / t["exact"] <= 2.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hist_join_estimate(fk, "k", pk, "k", n_buckets=0)


def test_hist_join_estimate_empty_and_disjoint(spark):
    from mongo2mysql_spark.operators.histjoin import hist_join_estimate

    empty = spark.createDataFrame([], "k long")
    rows = hist_join_estimate(empty, "k", empty, "k").collect()
    assert rows[0]["est"] == 0.0
    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(100,), (101,)], "k long")
    t = [
        r
        for r in hist_join_estimate(a, "k", b, "k", n_buckets=4,
                                    with_exact=True).collect()
        if r["bucket"] == -1
    ][0]
    assert t["exact"] == 0 and t["est"] == 0.0
