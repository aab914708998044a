"""The benchmark's correctness check and its inputs."""

import json
import os

import pyarrow.parquet as pq

import inputs
import job

ROWS = [("turn:c:0", "MENTIONS", "KG:1"), ("turn:c:0", "NEXT_TURN", "turn:c:1"), ("KG:1", "IS_A", "KG:0")]


def test_fingerprint_match_and_planted_mismatch(spark, tmp_path):
    inputs.write_rows(str(tmp_path / "oracle" / "base_triples"), ROWS, inputs.TRIPLE_SCHEMA)
    oracle = job.Oracle(spark, str(tmp_path))
    assert oracle.rows("base_triples") == 3

    same = spark.createDataFrame(list(reversed(ROWS)), "subj string, pred string, obj string")
    assert oracle.compare("base_triples", same) == (True, (1.0, 1.0))

    # one expected triple replaced by a wrong one: P = R = 2/3
    planted = spark.createDataFrame(ROWS[:2] + [("KG:1", "IS_A", "KG:9")], "subj string, pred string, obj string")
    ok, (p, r) = oracle.compare("base_triples", planted)
    assert not ok
    assert abs(p - 2 / 3) < 1e-12 and abs(r - 2 / 3) < 1e-12

    # a missing triple fails the row count even when P is perfect
    ok, (p, r) = oracle.compare("base_triples", planted.limit(2).filter("obj != 'KG:9'"))
    assert not ok and p == 1.0 and r < 1.0


def test_generator_is_deterministic(spark, tmp_path):
    """Same seed, same tables (by ``checkpoint.table_fingerprint``);
    another seed, other tables; the delta input differs from the base
    input in the changed conversations only, and the ledger re-runs
    the buckets they fall in and writes the delta oracle's triples."""
    from kgflow.plans import checkpoint as cp

    old = dict(inputs.WORKLOADS)
    inputs.WORKLOADS["tiny"] = {"turns": 2000, "terms": 40}
    try:
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            inputs.generate(str(tmp_path / name), "tiny", seed)
    finally:
        inputs.WORKLOADS.clear()
        inputs.WORKLOADS.update(old)
    a, b, c = (str(tmp_path / n) for n in "abc")

    def read(root, sub):
        return spark.read.parquet(os.path.join(root, sub))

    def fp(root, sub):
        return cp.table_fingerprint(read(root, sub))

    for sub in ("base", "delta", "terms", "isa", "oracle/base_triples", "oracle/delta_triples"):
        assert fp(a, sub) == fp(b, sub), sub
    assert fp(a, "base") != fp(c, "base")

    base = pq.read_table(os.path.join(a, "base")).to_pandas()
    delta = pq.read_table(os.path.join(a, "delta")).to_pandas()
    assert (base[["conv_id", "turn_idx"]] == delta[["conv_id", "turn_idx"]]).all().all()
    moved = base["text"] != delta["text"]
    is_changed = base["conv_id"].map(inputs.changed)
    assert moved.any() and not (moved & ~is_changed).any()
    with open(os.path.join(a, "meta.json")) as fh:
        assert sorted(base.loc[is_changed, "conv_id"].unique()) == json.load(fh)["changed_convs"]

    terms, isa = read(a, "terms"), read(a, "isa")
    out = str(tmp_path / "ledger")
    cp.run_resumable(spark, read(a, "base"), terms, isa, out, buckets=job.BUCKETS)
    report = cp.run_resumable(spark, read(a, "delta"), terms, isa, out, buckets=job.BUCKETS)
    oracle = job.Oracle(spark, a)
    oracle.prepare(["delta_triples", "delta_buckets"])
    assert report.processed_buckets == int(oracle.fp["delta_buckets"]) < job.BUCKETS
    assert cp.table_fingerprint(cp.read_triples(spark, out)) == oracle.fp["delta_triples"]
