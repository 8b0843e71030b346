"""fvecs/ivecs binary source + metric-log sink/scan (SURVEY §2.1 S1/S2/S5/S6)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cs598vectordb_spark.sources.logs import scan_metric_log, write_metric_log
from cs598vectordb_spark.sources.tables import load_table
from cs598vectordb_spark.sources.vecfiles import (
    _decode_blob,
    read_fvecs,
    read_ivecs,
    write_vecs,
)


def test_fvecs_roundtrip_multishard(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "fv")
    write_vecs(emb, path, "float32", rows_per_shard=64)
    shards = [f for f in os.listdir(path) if f.endswith(".fvecs")]
    assert len(shards) > 1, "expected multiple shard files"

    back = read_fvecs(spark, path)
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    got = {r["vec_id"]: r["embedding"] for r in back.collect()}
    assert set(got) == set(orig)
    for vid in orig:
        assert got[vid] == pytest.approx(orig[vid], abs=0.0), vid  # bit-exact


def test_ivecs_roundtrip(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.array((F.col("vec_id") % 100).cast("int"), F.lit(7)).alias("ints")
    )
    path = str(tmp_path / "iv")
    write_vecs(emb, path, "int32", vec_col="ints", rows_per_shard=1000)
    back = {r["vec_id"]: r["ints"] for r in read_ivecs(spark, path).collect()}
    assert back[13] == [13, 7]
    assert len(back) == emb.count()


def test_foreign_file_ids_start_at_zero(spark, tmp_path):
    """A file without an encoded shard offset gets implicit row-position
    ids — the reference's single-file contract (dynamic_script_faiss.py:57)."""
    raw = b""
    for row in ([1.0, 2.0], [3.0, 4.0]):
        raw += np.int32(2).tobytes() + np.asarray(row, dtype=np.float32).tobytes()
    p = tmp_path / "sift_base.fvecs"
    p.write_bytes(raw)
    rows = sorted(read_fvecs(spark, str(tmp_path)).collect(), key=lambda r: r["vec_id"])
    assert [r["vec_id"] for r in rows] == [0, 1]
    assert rows[1]["embedding"] == [3.0, 4.0]


def test_ragged_decode_fallback():
    raw = b""
    for row in ([1], [2, 3, 4]):
        raw += np.int32(len(row)).tobytes() + np.asarray(row, dtype=np.int32).tobytes()
    rows = _decode_blob(raw, "int32")
    assert [list(r) for r in rows] == [[1], [2, 3, 4]]


def test_metric_log_roundtrip(spark, tmp_path):
    data = [
        (25, 1, 4957.83, 2017.01, 0.9769),
        (25, 2, 4897.69, 2041.78, 0.9769),
        (50, 1, 5000.14, 1999.95, 0.9811),
    ]
    metrics = spark.createDataFrame(
        data, "update_pct int, interval int, qps double, latency_ms double, recall double"
    )
    path = str(tmp_path / "log")
    write_metric_log(metrics, path)

    # file format parity with the reference's log lines
    txt = sorted(
        line
        for f in os.listdir(path)
        if f.endswith(".txt") or f.startswith("part-")
        for line in open(os.path.join(path, f))
    )
    assert "--- 25% Update ---\n" in txt
    assert "Interval 1: QPS = 4957.83 queries/sec, Latency = 2017.01 ms, Recall = 0.9769\n" in txt

    back = scan_metric_log(spark, path)
    got = {(r["update_pct"], r["interval"]): (r["qps"], r["latency_ms"], r["recall"]) for r in back.collect()}
    assert got == {(p, i): (q, l, r) for p, i, q, l, r in data}


def test_bare_session_reads_events(sf_dir):
    """Regression for round 1's biggest failure: the DRIVER constructs its
    own bare SparkSession (no engine configs), and events.parquet's
    TIMESTAMP(NANOS) column made every events query throw
    PARQUET_TYPE_ILLEGAL there while passing under get_spark(). load_table
    must set what it needs at runtime — pin that with a subprocess running
    a truly unconfigured session."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        # mirror the driver: NO engine configs (ui off only to avoid port binds)
        spark = (SparkSession.builder.master("local[4]").appName("bare-driver-sim")
                 .config("spark.ui.enabled", "false").getOrCreate())
        import __spark_entry__ as em
        qs = em.queries()
        n = qs["events_hourly"](spark, {sf_dir!r}).count()
        assert n > 0, n
        rows = qs["events_last5_summary"](spark, {sf_dir!r}).collect()
        assert rows, rows
        # sessionize casts ts to long — dies on TIMESTAMP_NTZ, so this
        # pins the NTZ normalization under a bare session too
        ns = qs["sessionize"](spark, {sf_dir!r}).count()
        assert ns > 0, ns
        print("BARE_OK", n)
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "BARE_OK" in proc.stdout, proc.stdout


def test_events_ts_always_timestamp(spark):
    """Regression for the round-6 fixture drift: events.ts has shipped as
    TIMESTAMP(NANOS) (read as bigint nanos) and as timestamp[us]-no-tz
    (which Spark would infer as TIMESTAMP_NTZ, breaking numeric casts and
    watermarks). load_table must yield plain TIMESTAMP at every scale
    factor regardless of the parquet's physical encoding."""
    import os

    from cs598vectordb_spark.sources.tables import load_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):
            continue
        ev = load_table(spark, d, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp", (sf, ev.dtypes)


def test_load_table_schema_cache_matches_fresh_read(spark, sf_dir):
    """At sf0.01, for every table: once load_table has inferred a
    table's schema, a second load_table runs 0 Spark jobs (no footer-
    inference job) and returns the same schema and the same sorted rows
    as a fresh spark.read.parquet (events through normalize_ts, so
    events.ts stays TIMESTAMP on the cached path). The cold call must
    run a job, or the zero would prove nothing."""
    from cs598vectordb_spark.config import TABLES
    from cs598vectordb_spark.sources import tables
    from cs598vectordb_spark.sources.tables import normalize_ts
    from tests.test_index import _jobs_run

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for name in TABLES:
        path = os.path.join(sf, f"{name}.parquet")
        tables._SCHEMAS.pop(os.path.abspath(path), None)
        _, cold = _jobs_run(spark, f"schema-cold-{name}", lambda: load_table(spark, sf, name))
        df, warm = _jobs_run(spark, f"schema-warm-{name}", lambda: load_table(spark, sf, name))
        assert cold >= 1 and warm == 0, (name, cold, warm)
        fresh = spark.read.parquet(path)
        if name == "events":
            fresh = normalize_ts(fresh, "ts")
            assert dict(df.dtypes)["ts"] == "timestamp", df.dtypes
        assert df.schema == fresh.schema, name
        assert sorted(map(repr, df.collect())) == sorted(map(repr, fresh.collect())), name


def test_load_table_schema_cache_sees_rewrite(spark, sf_dir, tmp_path):
    """A table rewritten in place with an added column misses the schema
    cache (its file's mtime/size changed), so the next load_table reads
    the new column."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = tmp_path / "region.parquet"
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), dst)
    first = load_table(spark, str(tmp_path), "region")
    assert load_table(spark, str(tmp_path), "region").columns == first.columns
    t = pq.read_table(dst)
    pq.write_table(t.append_column("extra", pa.array(range(t.num_rows), pa.int64())), dst)
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == [*first.columns, "extra"]
    assert sorted(r["extra"] for r in again.collect()) == list(range(t.num_rows))


def test_normalize_ts_handles_all_encodings(spark):
    """normalize_ts is the single choke point for event-time dtype: bigint
    nanos -> TIMESTAMP, TIMESTAMP_NTZ -> TIMESTAMP (value-identical under
    the UTC session tz), TIMESTAMP passes through untouched."""
    from pyspark.sql import functions as F

    from cs598vectordb_spark.sources.tables import normalize_ts

    base = spark.range(3).select(
        (F.col("id") * 1_000_000_000 + 1_755_000_000_000_000_000).alias("ns")
    )
    as_bigint = base.select(F.col("ns").alias("ts"))
    as_tz = base.select(F.timestamp_micros((F.col("ns") / 1000).cast("long")).alias("ts"))
    as_ntz = as_tz.select(F.col("ts").cast("timestamp_ntz").alias("ts"))

    fixed = [normalize_ts(df) for df in (as_bigint, as_tz, as_ntz)]
    for df in fixed:
        assert dict(df.dtypes)["ts"] == "timestamp"
    vals = [tuple(r[0] for r in df.orderBy("ts").collect()) for df in fixed]
    assert vals[0] == vals[1] == vals[2]


_GOLDEN_SCHEMA = {
        "region": {"r_regionkey": "int", "r_name": "string"},
        "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
        "customer": {
            "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
            "c_acctbal": "double", "c_mktsegment": "string",
        },
        "supplier": {
            "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
            "s_acctbal": "double",
        },
        "part": {
            "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
            "p_type": "string", "p_size": "int", "p_retailprice": "double",
        },
        "orders": {
            "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
            "o_totalprice": "double", "o_orderdate": "timestamp",
            "o_orderpriority": "string",
        },
        "lineitem": {
            "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
            "l_linenumber": "int", "l_quantity": "double",
            "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
            "l_returnflag": "string", "l_linestatus": "string",
            "l_shipdate": "timestamp",
        },
        "events": {
            "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
            "event_type": "string", "value": "double", "props": "string",
        },
        "documents": {
            "doc_id": "bigint", "text": "string", "lang": "string",
            "source": "string", "n_chars": "bigint",
        },
        "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_fixture_schema_contract(spark, sf):
    """Early-warning tripwire for driver fixture drift (the events.ts
    encoding changed between rounds and silently broke five operators
    before this suite said a word). Pins, per table, the column dtypes
    the engine's operators depend on — AFTER load_table normalization,
    so a new physical encoding is fine as long as the normalization
    layer absorbs it — at ALL THREE SFs (fixtures regenerate per round
    and have drifted at one SF without the others; the golden schema is
    recorded in FIXTURES.md). A failure here means: extend
    sources.tables.normalize_* (or the runtime confs), don't patch the
    individual operators."""
    from cs598vectordb_spark.sources.tables import load_all

    tables = load_all(spark, sf)
    for name, want in _GOLDEN_SCHEMA.items():
        got = dict(tables[name].dtypes)
        # subset check: new columns may appear, the pinned ones must hold
        broken = {c: (t, got.get(c)) for c, t in want.items() if got.get(c) != t}
        assert not broken, (sf, name, broken)


def test_scan_formats_roundtrips_losslessly(spark, sf_dir):
    """ORC and CSV round-trips must preserve every row and value: the
    per-format checksums equal the ones computed on the parquet
    original."""
    import __spark_entry__ as em

    got = {r.fmt: r for r in em.queries()["scan_formats"](spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    sq = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    want = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("s"),
        F.sum("label").alias("l"),
        F.round(F.sum(F.expr(sq)), 2).alias("nn"),
    ).collect()[0]
    assert (got["orc"].n, got["orc"].sum_vec_id, got["orc"].sum_label) == (want.n, want.s, want.l)
    assert got["orc"].sum_sq_norm == want.nn  # float32 exact through ORC
    assert (got["csv"].n, got["csv"].sum_vec_id, got["csv"].sum_label) == (want.n, want.s, want.l)


def test_scan_fvecs_value_exact(spark, sf_dir):
    """Value-exact pure-Python pin for the RETIRED scan_fvecs oracle
    (r14 slot budget — see registry._PRIORITY): every (vec_id, dim,
    norm) row of the fvecs round-trip dashboard is recomputed bit for
    bit from the parquet originals — float32 components upcast to
    double, squared and accumulated LEFT TO RIGHT, sqrt, HALF_UP-
    rounded at 4 decimals — exactly the retired DuckDB twin's
    arithmetic (and Spark's own F.round semantics: BigDecimal.valueOf
    uses the shortest decimal repr, as does Python's repr)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import __spark_entry__ as em

    got = {
        r["vec_id"]: (r["dim"], r["norm"])
        for r in em.queries()["scan_fvecs"](spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").collect()
    assert len(got) == len(emb) > 0
    for r in emb:
        acc = 0.0
        for x in r["embedding"]:
            acc += float(x) * float(x)
        want = float(
            Decimal(repr(math.sqrt(acc))).quantize(
                Decimal("0.0001"), ROUND_HALF_UP
            )
        )
        dim, norm = got[r["vec_id"]]
        assert dim == len(r["embedding"])
        assert norm == want, (r["vec_id"], norm, want)


def test_scan_ivecs_value_exact(spark, sf_dir):
    """Value-exact pure-Python pin for the RETIRED scan_ivecs oracle
    (r16 slot budget, shared-evidence class: the shard writer/reader is
    the same write_vecs/_decode_blob path the retired scan_fvecs pin
    already covers modulo the int32 view — funding the bm25_search
    promotion): every (vec_id, n, s) row of the ivecs round-trip is
    recomputed from the parquet originals — payload [label, vec_id%7,
    dim], so n == 3 and s == label + vec_id%7 + dim exactly, the
    retired DuckDB twin's arithmetic. The hash-strength claim: the
    query only produces these values if the int32 shard decode is
    value-exact for every row."""
    import __spark_entry__ as em

    got = {
        r["vec_id"]: (r["n"], r["s"])
        for r in em.queries()["scan_ivecs"](spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.size("embedding").alias("dim")
    ).collect()
    assert len(got) == len(emb) > 0
    for r in emb:
        want = (3, r["label"] + r["vec_id"] % 7 + r["dim"])
        assert got[r["vec_id"]] == want, (r["vec_id"], got[r["vec_id"]], want)


def test_fvecs_datasource_matches_reader(spark, sf_dir):
    """Evidence pin for the rows-only scan_fvecs_v2 entry: the
    registered Python Data Source must return the SAME frame as the
    binaryFile+mapInPandas reader (whose norm dashboard carries the
    retired scan_fvecs oracle's value-exact pin) — both dtypes, with
    per-shard partitioning."""
    from cs598vectordb_spark.sources.fvecs_datasource import register
    from cs598vectordb_spark.sources.tables import load_table
    from cs598vectordb_spark.sources.vecfiles import (
        read_fvecs,
        read_ivecs,
        write_vecs,
    )

    register(spark)
    emb = load_table(spark, sf_dir, "embeddings")

    fpath = "/tmp/cs598_spark_io/test_dsv2_fvecs"
    write_vecs(emb, fpath, "float32", rows_per_shard=300)
    via_ds = spark.read.format("fvecs").load(fpath)
    via_fn = read_fvecs(spark, fpath)
    assert via_ds.schema == via_fn.schema
    assert via_ds.exceptAll(via_fn).count() == 0
    assert via_fn.exceptAll(via_ds).count() == 0
    # one partition per shard file — the format's parallel contract
    import glob

    assert via_ds.rdd.getNumPartitions() == len(glob.glob(fpath + "/*.fvecs"))

    ipath = "/tmp/cs598_spark_io/test_dsv2_ivecs"
    ints = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x * 100 AS INT)) AS ints"
    )
    write_vecs(ints, ipath, "int32", vec_col="ints", rows_per_shard=300)
    via_ds_i = (
        spark.read.format("fvecs")
        .option("value_dtype", "int32")
        .option("vec_col", "ints")
        .load(ipath)
    )
    via_fn_i = read_ivecs(spark, ipath, vec_col="ints")
    assert via_ds_i.exceptAll(via_fn_i).count() == 0
    assert via_fn_i.exceptAll(via_ds_i).count() == 0


def test_fvecs_datasource_prunes_shards_on_vec_id(spark, sf_dir):
    """Shard pruning: a vec_id range predicate must cut the partition
    list at PLANNING time (shard names encode contiguous id ranges —
    the binary format's parquet-partition-pruning analog), while Spark
    re-evaluates the filter post-scan so results stay exact."""
    from pyspark.sql import functions as F

    from cs598vectordb_spark.sources.fvecs_datasource import register
    from cs598vectordb_spark.sources.tables import load_table
    from cs598vectordb_spark.sources.vecfiles import write_vecs

    register(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    path = "/tmp/cs598_spark_io/test_dsv2_prune"
    write_vecs(emb, path, "float32", rows_per_shard=100)  # 5 shards
    n = emb.count()

    full = spark.read.format("fvecs").load(path)
    assert full.rdd.getNumPartitions() == 5

    lt = spark.read.format("fvecs").load(path).filter(F.col("vec_id") < 150)
    assert lt.rdd.getNumPartitions() == 2
    assert lt.count() == 150

    rng = spark.read.format("fvecs").load(path).filter(
        (F.col("vec_id") >= 320) & (F.col("vec_id") <= 410)
    )
    assert rng.rdd.getNumPartitions() == 2
    assert rng.count() == 91

    pt = spark.read.format("fvecs").load(path).filter(F.col("vec_id") == 42)
    assert pt.rdd.getNumPartitions() == 1
    assert pt.count() == 1
    assert n == 500  # the shard math above assumes the sf0.001 fixture


def test_fvecs_stream_source_incremental(spark, sf_dir, tmp_path):
    """Evidence pin for the rows-only scan_fvecs_stream entry: the
    streaming fvecs source must (a) drain all shards into exactly the
    batch reader's rows, and (b) track offsets across a checkpointed
    restart — a second availableNow run after two NEW shards land reads
    ONLY those shards (no re-read, no duplicates)."""
    import glob
    import os

    from cs598vectordb_spark.sources.fvecs_datasource import register
    from cs598vectordb_spark.sources.tables import load_table
    from cs598vectordb_spark.sources.vecfiles import write_vecs

    register(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "shards")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.format("fvecs").load(src)
        q = (
            stream.selectExpr("vec_id", "size(embedding) AS dim")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    write_vecs(emb.filter("vec_id < 300"), src, rows_per_shard=100)
    assert len(glob.glob(src + "/*.fvecs")) == 3
    out1 = run_once()
    assert out1.count() == 300

    # two new shards land (the first three are rewritten byte-identical)
    write_vecs(emb, src, rows_per_shard=100)
    assert len(glob.glob(src + "/*.fvecs")) == 5
    out2 = run_once()
    assert out2.count() == 500  # +200, nothing re-read
    assert out2.select("vec_id").distinct().count() == 500
    assert out2.filter("dim != 64").count() == 0


def test_fvecs_pruning_disabled_for_foreign_files(spark, sf_dir, tmp_path):
    """A directory containing a file WITHOUT the part-<start> naming
    breaks the contiguity contract — pruning must turn itself off (scan
    every file) rather than skip rows that might live in the foreign
    file."""
    import shutil

    from pyspark.sql import functions as F

    from cs598vectordb_spark.sources.fvecs_datasource import register
    from cs598vectordb_spark.sources.tables import load_table
    from cs598vectordb_spark.sources.vecfiles import write_vecs

    register(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "mixed")
    write_vecs(emb.filter("vec_id < 300"), path, rows_per_shard=100)
    # a foreign single-file export: ids 300..499 with NO encoded start
    solo = str(tmp_path / "solo")
    write_vecs(
        emb.filter("vec_id >= 300").selectExpr(
            "vec_id - 300 AS vec_id", "embedding"
        ),
        solo,
        rows_per_shard=1000,
    )
    shutil.copy(
        next(
            str(p)
            for p in __import__("pathlib").Path(solo).glob("*.fvecs")
        ),
        path + "/foreign.fvecs",
    )

    df = spark.read.format("fvecs").load(path).filter(F.col("vec_id") >= 250)
    # without the guard, [250, inf) would prune the foreign file (its
    # derived range is [0, 0)); with it, all 4 files scan
    assert df.rdd.getNumPartitions() == 4
    # foreign rows decode with start=0, so ids 0..199 — the filter keeps
    # only the genuine 250..299 tail plus nothing from the foreign file
    assert df.count() == 50


def test_synthetic_queries_scale_past_fixture(spark, sf_dir):
    """The seeded synthetic query set (fixture head + ε-jittered copies)
    that lets bench.py measure exact-kNN QPS at the reference's 10K
    batch size past the fixture's row count: exact n rows, unique q_ids,
    deterministic across builds, rep-0 slice identical to the plain
    self-query head, and each jittered copy's nearest base neighbor is
    still its source vector (ε ≪ inter-point distance)."""
    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.sources.tables import (
        queries_from_embeddings,
        synthetic_queries,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base_n = emb.count()
    n = 2 * base_n + 7
    q = synthetic_queries(emb, n, base_n)
    rows = q.collect()
    assert len(rows) == n
    assert len({r.q_id for r in rows}) == n

    again = {r.q_id: r.embedding for r in synthetic_queries(emb, n, base_n).collect()}
    got = {r.q_id: r.embedding for r in rows}
    assert got == again, "synthetic queries must be deterministic"

    head = {r.q_id: r.embedding for r in queries_from_embeddings(emb, base_n).collect()}
    assert {k: v for k, v in got.items() if k < base_n} == head

    # a jittered copy of vec v must keep v as its exact rank-1 neighbor
    top1 = knn_exact(emb, q.filter(F.col("q_id") >= base_n), k=1).collect()
    assert all(r.vec_id == r.q_id % base_n for r in top1)


def test_fp_cache_invalidates_on_source_change(spark, tmp_path):
    """The session-scoped fingerprint cache must NOT serve a stale
    export when the source data changes under an identical plan
    mid-session (ADVICE r9): the cache key carries a (path, size,
    mtime) signal of the plan's input files, so a drifted source forces
    a re-fingerprint and the rewrite it implies."""

    def make(src_path, base):
        spark.range(8).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.lit(float(base)).cast("float"), (F.col("id") + base).cast("float")
            ).alias("embedding"),
        ).coalesce(1).write.mode("overwrite").parquet(src_path)

    src = str(tmp_path / "src_parquet")
    out = str(tmp_path / "out_vecs")
    make(src, 1)
    write_vecs(spark.read.parquet(src), out, rows_per_shard=100)
    assert {r.embedding[0] for r in read_fvecs(spark, out).collect()} == {1.0}

    make(src, 2)  # same path, same plan shape, same row count — new bytes
    write_vecs(spark.read.parquet(src), out, rows_per_shard=100)
    assert {r.embedding[0] for r in read_fvecs(spark, out).collect()} == {2.0}


def test_fvecs_stream_skips_foreign_file_loudly(spark, sf_dir, tmp_path):
    """A glob-matching file WITHOUT the part-<start> naming inside a
    STREAMED shard directory must be INVISIBLE (with a warning): never
    ingested under the batch reader's start_id=0 fallback (it would
    misnumber every row and collide with shard 0, VERDICT r9 item 8)
    AND never admitted into the offset watermark — a high-sorting
    foreign name ('zz…' > every 'part-*') in last_file would silently
    block all future contract shards forever. Contract-named shards
    before AND after the foreign arrival keep ingesting."""
    import shutil
    import warnings as _w

    from cs598vectordb_spark.sources.fvecs_datasource import FvecsStreamReader
    from cs598vectordb_spark.sources.vecfiles import write_vecs

    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "shards")
    write_vecs(emb.filter("vec_id < 200"), src, rows_per_shard=100)
    shutil.copy(src + "/part-000000000100.fvecs", src + "/zz_foreign.fvecs")

    reader = FvecsStreamReader({"path": src})
    with pytest.warns(UserWarning, match="zz_foreign"):
        first = reader.latestOffset()
    # the watermark stops at the last CONTRACT name, not the foreign one
    assert first == {"last_file": "part-000000000100.fvecs"}
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        parts = reader.partitions(reader.initialOffset(), first)
        assert [p.start_id for p in parts] == [0, 100]
        assert not any("zz_foreign" in p.path for p in parts)
        # a contract shard landing AFTER the foreign file still ingests
        shutil.copy(src + "/part-000000000000.fvecs", src + "/part-000000000200.fvecs")
        nxt = reader.latestOffset()
        assert nxt == {"last_file": "part-000000000200.fvecs"}
        assert [p.start_id for p in reader.partitions(first, nxt)] == [200]
