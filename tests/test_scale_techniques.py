"""Scale-technique tests: salted skew handling, bucketed co-located
joins, and the S2 binary-ingest job plumbing."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.operators.skew import (
    salted_broadcast_join,
    salted_sum_count,
)
from oxford_data_pipeline_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def test_salted_aggregation_matches_plain(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    plain = {
        (r.l_returnflag,): (round(r.s, 6), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r.l_returnflag,): (round(r.sum_l_quantity, 6), r.n)
        for r in salted_sum_count(
            li, ["l_returnflag"], "l_quantity", salt_cols=["l_orderkey"], n_salts=8
        ).collect()
    }
    assert plain == salted


def test_salted_broadcast_join_matches_plain(spark):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").count()
    salted = salted_broadcast_join(
        orders, cust, "o_custkey", salt_cols=["o_orderkey"], n_salts=8
    ).count()
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing by the join key co-locates both sides: the sort-merge
    join runs without an Exchange on either input (SURVEY §4 optional
    physical design for J1/J4)."""
    # warehouse dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped afterwards
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("li_bucketed")
    orders.withColumnRenamed("o_orderkey", "l_orderkey").write.mode(
        "overwrite"
    ).bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("ord_bucketed")
    try:
        a = spark.table("li_bucketed")
        b = spark.table("ord_bucketed")
        joined = a.join(b, "l_orderkey").groupBy("o_orderstatus").count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # and the result matches the unbucketed join
        plain = (
            li.join(orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
            .groupBy("o_orderstatus")
            .count()
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_mat_ingest_plumbing_with_fake_decoder(spark):
    """S2 — drive the binaryFile → mapInPandas conversion job with a
    deterministic fake decoder (h5py absent in this runtime)."""
    from oxford_data_pipeline_spark.sources.mat_ingest import ingest_mat_files

    with tempfile.TemporaryDirectory() as d:
        for s in ("a", "b"):
            with open(os.path.join(d, f"{s}_analysis.mat"), "wb") as f:
                f.write(f"fake-mat-{s}".encode() * 10)

        def fake_decoder(path: str, payload: bytes) -> pd.DataFrame:
            session = os.path.basename(path).split("_")[0]
            return pd.DataFrame(
                {
                    "session": session,
                    "neuron_id": [0, 1],
                    "bin": [0, 0],
                    "rate": [float(len(payload)), 1.0],
                }
            )

        out = ingest_mat_files(spark, os.path.join(d, "*.mat"), fake_decoder)
        rows = sorted(map(tuple, out.collect()))
        assert len(rows) == 4
        assert {r[0] for r in rows} == {"a", "b"}


def test_mat_decode_rejects_garbage_and_unsupported_hdf5():
    from oxford_data_pipeline_spark.sources.mat_ingest import decode_mat_bytes

    # HDF5 magic but not a parseable superblock → clean error, not a crash
    with pytest.raises((ValueError, NotImplementedError)):
        decode_mat_bytes("x.mat", b"\x89HDF\r\n\x1a\n" + b"\0" * 200)
    with pytest.raises(ValueError):
        decode_mat_bytes("x.mat", b"bytes")


def test_mat73_roundtrip_and_matlab_header():
    """sources.hdf5mat: write → read returns bit-identical float64
    matrices through a real HDF5 container (superblock v0, contiguous
    layout) behind the 512-byte MATLAB v7.3 userblock header."""
    import struct

    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import read_mat73, write_mat73

    rng = np.random.default_rng(7)
    arrays = {
        "firingrate": rng.normal(size=(7, 13)),
        "x": rng.normal(size=(1, 1)),
        "a_longer_name_than_four": rng.normal(size=5),
    }
    blob = write_mat73(arrays)
    # MATLAB v7.3 container shape: text header, version 0x0200 + 'IM'
    # at offset 124, HDF5 signature at the 512-byte userblock boundary
    assert blob[:10] == b"MATLAB 7.3"
    assert struct.unpack_from("<H2s", blob, 124) == (0x0200, b"IM")
    assert blob[512:520] == b"\x89HDF\r\n\x1a\n"
    got = read_mat73(blob)
    assert set(got) == set(arrays)
    assert np.array_equal(got["firingrate"], arrays["firingrate"])
    assert np.array_equal(got["x"], arrays["x"])
    assert np.array_equal(
        got["a_longer_name_than_four"],
        np.asarray(arrays["a_longer_name_than_four"]).reshape(-1, 1),
    )


def test_mat5_compressed_elements_unpadded_per_spec():
    """Spec: miCOMPRESSED top-level elements are exempt from the 8-byte
    alignment rule — multi-variable compressed files are back-to-back.
    (MATLAB/scipy write them unpadded; the reader must advance exactly
    8+nbytes after a compressed element.)"""
    import struct

    import numpy as np

    from oxford_data_pipeline_spark.sources.matfile import (
        miCOMPRESSED,
        read_mat5,
        write_mat5,
    )

    arrays = {"a": np.arange(6.0).reshape(2, 3), "b": np.arange(4.0).reshape(2, 2)}
    blob = write_mat5(arrays, compress=True)
    t1, n1 = struct.unpack_from("<II", blob, 128)
    assert t1 == miCOMPRESSED
    # second element's tag starts exactly 8+n1 later — no padding
    t2, n2 = struct.unpack_from("<II", blob, 128 + 8 + n1)
    assert t2 == miCOMPRESSED
    assert len(blob) == 128 + 8 + n1 + 8 + n2
    got = read_mat5(blob)
    assert np.array_equal(got["a"], arrays["a"])
    assert np.array_equal(got["b"], arrays["b"])


def test_mat5_roundtrip_plain_and_compressed():
    """sources.matfile: write → read returns bit-identical float64
    matrices (column-major payload, small-element name packing,
    zlib-compressed top-level elements)."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.matfile import read_mat5, write_mat5

    rng = np.random.default_rng(3)
    arrays = {
        "firingrate": rng.normal(size=(7, 13)),
        "x": rng.normal(size=(1, 1)),
        "a_longer_name_than_four": rng.normal(size=5),  # 1-D → column
    }
    for compress in (False, True):
        got = read_mat5(write_mat5(arrays, compress=compress))
        assert set(got) == set(arrays)
        assert np.array_equal(got["firingrate"], arrays["firingrate"])
        assert np.array_equal(got["x"], arrays["x"])
        assert np.array_equal(
            got["a_longer_name_than_four"],
            np.asarray(arrays["a_longer_name_than_four"]).reshape(-1, 1),
        )


def test_mat_ingest_end_to_end_both_container_formats(spark):
    """S2 — the full conversion job on REAL session files in BOTH
    container formats using the DEFAULT decoder: binaryFile scan →
    magic-byte routing → pure-python v5 / v7.3(HDF5) parse → canonical
    long firing rows."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import write_mat73
    from oxford_data_pipeline_spark.sources.mat_ingest import ingest_mat_files
    from oxford_data_pipeline_spark.sources.matfile import write_mat5

    rng = np.random.default_rng(11)
    mats = {s: rng.normal(size=(3, 4)) for s in ("sessA", "sessB", "sessC")}
    writers = {
        "sessA": lambda m: write_mat5({"firingrate": m}),
        "sessB": lambda m: write_mat5({"firingrate": m}, compress=True),
        "sessC": lambda m: write_mat73({"firingrate": m}),
    }
    with tempfile.TemporaryDirectory() as d:
        for s, m in mats.items():
            with open(os.path.join(d, f"{s}.mat"), "wb") as f:
                f.write(writers[s](m))
        out = ingest_mat_files(spark, os.path.join(d, "*.mat"))
        rows = out.collect()
    assert len(rows) == 3 * 3 * 4
    assert {r.session for r in rows} == set(mats)
    for r in rows:
        assert r.rate == mats[r.session][r.neuron_id - 1, r.bin]


def test_mat73_chunked_filtered_roundtrip():
    """Chunked (class-2) layouts with the MATLAB filter pipeline:
    deflate, shuffle+deflate, edge chunks, and a two-level chunk
    B-tree all round-trip bit-identically."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import read_mat73, write_mat73

    rng = np.random.default_rng(11)
    arrays = {"firingrate": rng.normal(size=(61, 23)), "vec": rng.normal(size=53)}
    cases = [
        dict(chunks=(4, 4)),                      # edge chunks both dims
        dict(chunks=(4, 16), compress=6),         # deflate
        dict(chunks=(5, 7), compress=9, shuffle=True),
        dict(chunks=(3, 5), btree_fanout=2),      # two-level chunk B-tree
        dict(chunks=(4, 4), compress=6, shuffle=True, btree_fanout=7),
    ]
    for kw in cases:
        got = read_mat73(write_mat73(arrays, **kw))
        assert np.array_equal(got["firingrate"], arrays["firingrate"]), kw
        assert np.array_equal(got["vec"].ravel(), arrays["vec"]), kw


def test_mat73_header_continuation_blocks():
    """Real MATLAB object headers overflow into continuation blocks once
    attributes are added; the parser must follow 0x0010 messages."""
    import struct

    import numpy as np

    from oxford_data_pipeline_spark.sources import hdf5mat as h

    a = np.arange(12.0).reshape(3, 4)
    stored = np.ascontiguousarray(a.T)
    base_msgs = h._dataspace_datatype_msgs(stored.shape)

    # hand-assemble: block 1 = dataspace + continuation; block 2
    # (appended later in the file) = datatype + layout
    def msg(mtype, body):
        body = body + b"\x00" * h._pad8(len(body))
        return struct.pack("<HHB3x", mtype, len(body), 0) + body

    # file layout: [header: dataspace + continuation][cont block:
    # datatype + layout][data]; addresses are file-relative (base 0)
    m_space = msg(*base_msgs[0])
    m_dtype = msg(*base_msgs[1])
    layout_body_len = len(msg(h._MSG_LAYOUT, struct.pack("<BBQQ", 3, 1, 0, 0)))
    block1_len = len(m_space) + 8 + 16  # + continuation msg (hdr + body)
    cont_addr = 16 + block1_len
    block2_len = len(m_dtype) + layout_body_len
    data_addr = cont_addr + block2_len
    m_layout = msg(
        h._MSG_LAYOUT, struct.pack("<BBQQ", 3, 1, data_addr, stored.size * 8)
    )
    block1 = m_space + msg(
        h._MSG_CONTINUATION, struct.pack("<QQ", cont_addr, block2_len)
    )
    assert len(block1) == block1_len
    payload = (
        struct.pack("<BxHII4x", 1, 4, 1, len(block1))
        + block1
        + m_dtype
        + m_layout
        + stored.tobytes()
    )
    got = h._read_dataset(payload, 0, 0)
    assert np.array_equal(got, a)


def test_mat73_chunked_ingest_end_to_end(spark):
    """S2 — a chunked+deflate v7.3 file (what MATLAB actually writes)
    flows through the default decoder into canonical long rows."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import write_mat73
    from oxford_data_pipeline_spark.sources.mat_ingest import ingest_mat_files

    rng = np.random.default_rng(3)
    fr = {"sessA": rng.normal(size=(5, 17)), "sessB": rng.normal(size=(3, 9))}
    with tempfile.TemporaryDirectory() as d:
        for s, m in fr.items():
            with open(os.path.join(d, f"{s}.mat"), "wb") as f:
                f.write(
                    write_mat73({"firingrate": m}, chunks=(4, 4), compress=6)
                )
        out = ingest_mat_files(spark, os.path.join(d, "*.mat")).toPandas()
    assert len(out) == sum(m.size for m in fr.values())
    for s, m in fr.items():
        sub = out[out.session == s].sort_values(["neuron_id", "bin"])
        assert np.allclose(sub.rate.to_numpy(), m.ravel(order="C"))
        assert sub.neuron_id.max() == m.shape[0] and sub.bin.max() == m.shape[1] - 1


def test_simhash_plan_single_exchange(spark):
    """The simhash signature computation must shuffle exactly once,
    keyed on doc_id: the per-occurrence vote formulation exists
    precisely to avoid a second exchange keyed on every distinct
    (doc_id, token) pair.  (Asserted on the computation itself — the
    registered query wraps it in the session memo, whose cached plan
    also shows the token relation's own exchange.)"""
    from pyspark.sql import functions as F2

    from oxford_data_pipeline_spark.operators.textops import simhash_signature
    from oxford_data_pipeline_spark.plans.textops import tokens_relation

    # the >= -1 no-op filter keeps this plan from fingerprint-matching
    # the session-memoized signature relation: a cache hit would swap
    # in the InMemoryRelation and make the exchange count depend on
    # which tests ran first
    t = (
        tokens_relation(spark, "/root/testdata/sf0.001")
        .filter(F2.col("doc_id") >= -1)
        .select("doc_id", F2.explode("t").alias("token"), F2.lit(1).alias("cnt"))
    )
    df = simhash_signature(t)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan[:2000]}"
    assert "hashpartitioning(doc_id" in plan


def test_lsh_bucket_cap_in_plan(spark):
    """The hot-bucket guard must be part of the executed plan: a filter
    on the bucket-size aggregate (bsz <= cap) ahead of the pair join,
    so a skewed bucket can never quadratically explode the candidate
    space (round-3 verdict item 3)."""
    from oxford_data_pipeline_spark.plans.dedup import _BUCKET_CAP
    from oxford_data_pipeline_spark.plans.similarity import sim_lsh_ann

    df = sim_lsh_ann(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bsz" in plan, "bucket-size relation missing from plan"
    assert f"<= {_BUCKET_CAP}" in plan, "bucket cap filter missing from plan"


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """With a cap below the largest bucket, that bucket's vectors are
    excluded; with the default cap, the relation is unchanged (the cap
    sits above any local bucket size, keeping oracle rows identical)."""
    from oxford_data_pipeline_spark.plans.dedup import (
        _hyperplanes,
        _sign_buckets,
        capped_sign_buckets,
    )
    from oxford_data_pipeline_spark.plans.projection import embeddings_long

    long = embeddings_long(spark, SF_DIR).select("vec_id", "dim", "val")
    planes = _hyperplanes(spark)
    raw = _sign_buckets(long, planes)
    sizes = {r.bucket: r.n for r in raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    biggest = max(sizes.values())
    assert biggest > 1, "test data has no bucket with >1 vector"

    capped = capped_sign_buckets(long, planes, cap=biggest - 1)
    kept = {r.bucket for r in capped.select("bucket").distinct().collect()}
    assert all(sizes[b] <= biggest - 1 for b in kept)
    assert capped.count() == sum(n for n in sizes.values() if n <= biggest - 1)

    default = capped_sign_buckets(long, planes)
    assert default.count() == raw.count(), "default cap must not bind locally"


def test_simhash_chunk_blocking_is_exhaustive(spark):
    """Pigeonhole guarantee: every pair within Hamming <= 3 of the full
    O(n^2) sweep must appear in the chunk-blocked query's output — the
    blocking loses nothing at the threshold it is exact for."""
    from itertools import combinations

    from oxford_data_pipeline_spark.plans.dedup import (
        _HAM_MAX,
        dedup_simhash,
        dedup_simhash_pairs,
    )

    sigs = {
        r.doc_id: int(r.simhash, 2)
        for r in dedup_simhash(spark, SF_DIR).collect()
    }
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= _HAM_MAX
    }
    got = {
        (r.doc1, r.doc2): r.hamming
        for r in dedup_simhash_pairs(spark, SF_DIR).collect()
    }
    assert got == brute


def test_ann_recall_floors(spark):
    """The audited recall of each index is deterministic (md5-seeded
    planes/quantizers), so pin the floors the round-5 tuning achieved:
    multi-table LSH >= 0.38 (its tuned level as the candidate-
    generation tier — tier contract in the sim_lsh_ann docstring;
    single-table was 0.04), 5-probe IVF >= 0.8, the serving path
    (IVFADC+R exact re-rank) >= 0.8 — the standard serving bar — and
    the re-rank must recover ADC distortion (rerank >= ADC)."""
    from oxford_data_pipeline_spark.plans import QUERIES

    def mean_recall(name):
        rows = QUERIES[name](spark, SF_DIR).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    lsh, ivf = mean_recall("sim_lsh_recall"), mean_recall("sim_ivf_recall")
    adc, rr = mean_recall("sim_ivfpq_recall"), mean_recall("sim_ivfpq_rerank_recall")
    assert lsh >= 0.38, lsh
    assert ivf >= 0.80, ivf
    assert rr >= 0.80, rr
    assert rr >= adc, (rr, adc)  # refinement must not lose recall
    assert ivf >= rr - 1e-9, (ivf, rr)  # rerank is bounded by its probes


def test_semdedup_subsplit_bounds_blocks(spark):
    """The SemDeDup hot-cell guard (round-4 verdict item 3): cells above
    the cap are sub-split so no (cell, subcell) block exceeds ~cap
    members, while small cells pass through untouched (subcell 0) and
    no vector is ever dropped."""
    from oxford_data_pipeline_spark.plans.similarity import subsplit_cells

    rows = [(i, 0) for i in range(5000)] + [(10_000 + i, 1) for i in range(10)]
    asg = spark.createDataFrame(rows, "vec_id long, cell int")
    out = subsplit_cells(asg, cap=1000)

    assert out.count() == len(rows)  # nothing dropped — split, not capped
    blocks = (
        out.groupBy("cell", "subcell").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    hot = [b for b in blocks if b.cell == 0]
    assert len(hot) == 5  # ceil(5000 / 1000) sub-splits
    assert max(b.n for b in hot) <= 1000
    cold = [b for b in blocks if b.cell == 1]
    assert len(cold) == 1 and cold[0].subcell == 0 and cold[0].n == 10


def test_semdedup_cap_in_plan(spark):
    """The sub-split must be part of dedup_semantic's executed plan: the
    cell-size aggregate (csz) and the cap comparison ahead of the pair
    join, so a skewed mega-cell cannot re-create the quadratic pair
    product."""
    from oxford_data_pipeline_spark.plans.similarity import (
        _SEMDEDUP_CELL_CAP,
        _semdedup_scored,
    )

    # the registered query checkpoints the scored relation (r15), which
    # truncates its executed plan at the materialization boundary — the
    # blocking/sub-split guarantees live in the scored relation's plan,
    # which is exactly what the query materializes and consumes
    plan = (
        _semdedup_scored(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "csz" in plan, "cell-size relation missing from plan"
    assert f"{_SEMDEDUP_CELL_CAP}" in plan, "cell cap missing from plan"


def test_mat5_char_cell_struct_roundtrip():
    """Round-4 verdict item 6: the pure-python MAT v5 reader decodes
    char / cellstr / struct natively (the reference's metadata shapes,
    extract_session_data_mdl.m:86-141) — no injected decoder."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.matfile import read_mat5, write_mat5

    payload = write_mat5(
        {
            "region_label": "CA1",
            "brainRegion_final": ["CA1", "PFC", "V1"],
            "cell_metrics": {
                "brainRegion_final": ["CA1", "PFC"],
                "firing_rate_mean": np.array([1.5, 2.25]),
                "session_name": "sess_01",
            },
        },
        compress=True,
    )
    out = read_mat5(payload)
    assert out["region_label"] == "CA1"
    assert list(out["brainRegion_final"].ravel()) == ["CA1", "PFC", "V1"]
    cm = out["cell_metrics"]
    assert list(cm["brainRegion_final"].ravel()) == ["CA1", "PFC"]
    assert cm["firing_rate_mean"].ravel().tolist() == [1.5, 2.25]
    assert cm["session_name"] == "sess_01"
    # uncompressed container path too
    out2 = read_mat5(write_mat5({"s": "hello", "c": ["ab", "cde"]}))
    assert out2["s"] == "hello"
    assert list(out2["c"].ravel()) == ["ab", "cde"]


def test_mat73_char_roundtrip():
    """v7.3 char variables (uint16 UTF-16 datasets, MATLAB's storage)
    decode to str alongside numeric datasets in the same file."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import read_mat73, write_mat73

    out = read_mat73(
        write_mat73(
            {"firingrate": np.arange(6.0).reshape(2, 3), "session_name": "sess_042"}
        )
    )
    assert out["session_name"] == "sess_042"
    assert out["firingrate"].shape == (2, 3)


def test_mat73_struct_cellstr_roundtrip():
    """v7.3 struct (HDF5 group) and cellstr (object-reference dataset
    into #refs#) decode natively — MATLAB's actual storage for the
    reference's metadata under `save -v7.3`, its primary format."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import read_mat73, write_mat73

    out = read_mat73(
        write_mat73(
            {
                "cell_metrics": {
                    "brainRegion_final": ["CA1", "PFC", "V1"],
                    "firing_rate_mean": np.array([1.5, 2.5, 3.5]),
                    "session_name": "sess_01",
                },
                "labels": ["go", "nogo"],
                "rates": np.arange(4.0).reshape(2, 2),
            }
        )
    )
    assert sorted(out) == ["cell_metrics", "labels", "rates"]  # #refs# dropped
    cm = out["cell_metrics"]
    assert list(cm["brainRegion_final"].ravel()) == ["CA1", "PFC", "V1"]
    assert cm["firing_rate_mean"].ravel().tolist() == [1.5, 2.5, 3.5]
    assert cm["session_name"] == "sess_01"
    assert list(out["labels"].ravel()) == ["go", "nogo"]
    # nested struct-in-struct
    nested = read_mat73(write_mat73({"s": {"inner": {"x": np.ones(2)}}}))
    assert nested["s"]["inner"]["x"].ravel().tolist() == [1.0, 1.0]


def test_mat_metadata_ingest_end_to_end(spark, tmp_path):
    """Distributed metadata ingest: struct/cellstr .mat files -> long
    (session, neuron_id, field, value) rows with the library decoder
    only — the injectable-decoder seam is no longer needed for the
    reference's metadata path."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.mat_ingest import ingest_mat_metadata
    from oxford_data_pipeline_spark.sources.matfile import write_mat5

    from oxford_data_pipeline_spark.sources.hdf5mat import write_mat73

    # one MAT v5 (compressed), one v5 plain, one v7.3 — all three land
    # in the same distributed job through format sniffing
    for sess, regions, writer, kw in [
        ("sess_a", ["CA1", "PFC"], write_mat5, {"compress": True}),
        ("sess_b", ["V1"], write_mat5, {}),
        ("sess_c", ["PFC"], write_mat73, {}),
    ]:
        blob = writer(
            {
                "cell_metrics": {
                    "brainRegion_final": regions,
                    "firing_rate_mean": np.arange(1.0, len(regions) + 1),
                }
            },
            **kw,
        )
        (tmp_path / f"{sess}.mat").write_bytes(blob)

    rows = {
        (r.session, r.neuron_id, r.field): r.value
        for r in ingest_mat_metadata(spark, str(tmp_path / "*.mat")).collect()
    }
    assert rows[("sess_a", 1, "brainRegion_final")] == "CA1"
    assert rows[("sess_a", 2, "brainRegion_final")] == "PFC"
    assert rows[("sess_b", 1, "brainRegion_final")] == "V1"
    assert rows[("sess_c", 1, "brainRegion_final")] == "PFC"
    assert rows[("sess_a", 2, "firing_rate_mean")] == "2"
    assert rows[("sess_c", 1, "firing_rate_mean")] == "1"
    assert len(rows) == 8


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing's defining property (Schleimer et al. 2003): two
    documents sharing a token run of at least w + k - 1 (= 6) tokens
    must share at least one selected fingerprint, while selection
    stays sparse (far fewer fingerprints than k-grams)."""
    from oxford_data_pipeline_spark.plans.dedup import (
        _WIN_K,
        _WIN_W,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta".split()  # w + k - 1 tokens
    assert len(shared) == _WIN_W + _WIN_K - 1
    docs = [
        (1, "one two three".split() + shared + "four five six seven".split()),
        (2, "red blue green yellow".split() + shared + "purple orange".split()),
        (3, "totally unrelated words with no overlap at all here now".split()),
    ]
    t = spark.createDataFrame(docs, "doc_id long, t array<string>")
    fps = winnow_fingerprints(t).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # sparsity: selection keeps roughly 2/(w+1) of k-grams, never all
    for doc_id, toks in docs[:2]:
        n_grams = len(toks) - (_WIN_K - 1)
        assert len(by_doc[doc_id]) < n_grams


def test_mat73_cell_of_struct_roundtrip():
    """Review regression: a referenced cell element can be a GROUP
    (MATLAB cell-of-struct) — the reader must recurse via the object
    dispatcher, not assume datasets."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import read_mat73, write_mat73

    out = read_mat73(
        write_mat73({"c": [{"a": np.ones(2), "name": "n1"}, "plain"]})
    )
    cells = list(out["c"].ravel())
    assert cells[0]["a"].ravel().tolist() == [1.0, 1.0]
    assert cells[0]["name"] == "n1"
    assert cells[1] == "plain"


def test_mat_metadata_nested_structs_and_vectors():
    """Review regression: CellExplorer-style nested structs flatten to
    dotted field names (no TypeError), and per-neuron vectors inside
    cells serialize in full (no [0]-truncation)."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.mat_ingest import decode_mat_metadata
    from oxford_data_pipeline_spark.sources.matfile import write_mat5

    blob = write_mat5(
        {
            "cell_metrics": {
                "brainRegion": ["CA1", "PFC"],
                "general": {"basename": "sess1", "rate": np.array([1.0, 2.0])},
                "waveforms": [np.array([0.1, 0.2, 0.3]), np.array([0.4, 0.5])],
            }
        }
    )
    df = decode_mat_metadata("/x/sess_a.mat", blob)
    rows = {(r.neuron_id, r.field): r.value for _, r in df.iterrows()}
    assert rows[(0, "general.basename")] == "sess1"
    assert rows[(2, "general.rate")] == "2"
    assert rows[(1, "waveforms")] == "0.1,0.2,0.3"
    assert rows[(2, "waveforms")] == "0.4,0.5"


def test_shingle_df_cap_drops_hot_shingles(spark):
    """A shingle shared by more docs than the cap is excluded from the
    capped relation (bounding the pair self-join fan-out); rare
    shingles survive untouched."""
    from oxford_data_pipeline_spark.plans.dedup import df_capped_shingles

    # synthetic hot key: "hot gram x" in 8 docs, rare shingles in <= 2
    rows = [(d, "hot gram x") for d in range(8)]
    rows += [(0, "rare gram a"), (1, "rare gram a"), (2, "rare gram b")]
    sh = spark.createDataFrame(rows, "doc_id int, shingle string")

    capped = df_capped_shingles(sh, cap=5)
    kept = {r.shingle for r in capped.select("shingle").distinct().collect()}
    assert "hot gram x" not in kept, "hot shingle must be dropped at df > cap"
    assert kept == {"rare gram a", "rare gram b"}
    assert capped.count() == 3

    # default cap above every local df: relation unchanged
    assert df_capped_shingles(sh, cap=8).count() == sh.count()


def test_containment_cap_in_plan(spark):
    """The hot-shingle DF cap must be part of dedup_containment's
    executed plan (a df <= cap filter ahead of the self-join), closing
    the round-5 verdict's one scale-hazard finding."""
    from oxford_data_pipeline_spark.plans.dedup import (
        _SHINGLE_DF_CAP,
        dedup_containment,
    )

    df = dedup_containment(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the memoized capped relation appears as an InMemoryRelation; its
    # build plan carries the filter — analyze the logical plan instead
    logical = df._jdf.queryExecution().analyzed().toString()
    assert f"<= {_SHINGLE_DF_CAP}" in plan + logical, (
        "df cap filter missing from containment plan"
    )


def test_incremental_append_recall_and_coverage(spark):
    """Recall-after-append: delta vectors searched through the merged
    IVF index (base-trained quantizer, no retrain) must stay near the
    full-index serving level — mean >= 0.70 at this SF (full IVF gets
    ~0.8; the gap is the price of not retraining, i.e. the drift
    signal).  The merged inverted list must cover every vector exactly
    once with a non-empty delta in at least one cell."""
    from oxford_data_pipeline_spark.plans import QUERIES
    from oxford_data_pipeline_spark.plans.projection import embeddings_long

    rows = QUERIES["sim_ivf_incremental_recall"](spark, SF_DIR).collect()
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.70, mean

    n_vecs = embeddings_long(spark, SF_DIR).select("vec_id").distinct().count()
    cells = QUERIES["sim_ivf_incremental"](spark, SF_DIR).collect()
    assert sum(r.n_total for r in cells) == n_vecs
    assert all(r.n_base + r.n_delta == r.n_total for r in cells)
    assert sum(r.n_delta for r in cells) > 0


def test_mat_metadata_matrix_field_per_neuron_columns():
    """A 2-D numeric field (CellExplorer acg: bins x n_neurons) must
    attribute each COLUMN to one neuron, not ravel into n*k rows with
    fabricated neuron ids."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.mat_ingest import decode_mat_metadata
    from oxford_data_pipeline_spark.sources.matfile import write_mat5

    blob = write_mat5(
        {
            "cell_metrics": {
                "acg_narrow": np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]),
                "rate": np.array([7.0, 8.0]),
            }
        }
    )
    df = decode_mat_metadata("/x/sess_b.mat", blob)
    rows = {(r.neuron_id, r.field): r.value for _, r in df.iterrows()}
    assert rows[(1, "acg_narrow")] == "1,3,5"
    assert rows[(2, "acg_narrow")] == "2,4,6"
    acg_ids = [r.neuron_id for _, r in df.iterrows() if r.field == "acg_narrow"]
    assert sorted(acg_ids) == [1, 2]


def test_mat5_big_endian_and_complex_roundtrip():
    """MAT v5 reader: big-endian ('MI' tag) files and complex matrices
    (pr + pi sub-elements) decode natively — the last v5 exotica seams
    from the round-5 verdict."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.matfile import read_mat5, write_mat5

    rng = np.random.default_rng(11)
    vals = {
        "m": rng.normal(size=(3, 4)),
        "z": rng.normal(size=(2, 3)) + 1j * rng.normal(size=(2, 3)),
        "s": "hello",
        "cells": ["CA1", "PFC"],
        "st": {"a": np.arange(3.0), "c": rng.normal(size=(2, 2)) + 0.5j},
    }
    for bo in ("<", ">"):
        for compress in (False, True):
            got = read_mat5(write_mat5(vals, compress=compress, byte_order=bo))
            assert np.allclose(got["m"], vals["m"])
            assert got["z"].dtype == np.complex128
            assert np.allclose(got["z"], vals["z"])
            assert got["s"] == "hello"
            assert list(got["cells"].ravel()) == ["CA1", "PFC"]
            assert np.allclose(got["st"]["c"], vals["st"]["c"])


def test_mat73_chunked_char_roundtrip():
    """Chunked (and deflated) uint16 char datasets decode through the
    same chunk B-tree walk as f64 — the layout a generic HDF5 writer
    produces for long strings."""
    import numpy as np

    from oxford_data_pipeline_spark.sources.hdf5mat import read_mat73, write_mat73

    arrays = {"name_str": "hippocampus_session_A" * 6, "m": np.arange(45.0).reshape(9, 5)}
    for kw in ({"chunks": (4, 16)}, {"chunks": (4, 16), "compress": 6}):
        got = read_mat73(write_mat73(arrays, **kw))
        assert got["name_str"] == arrays["name_str"]
        assert np.array_equal(got["m"], arrays["m"])
    import pytest

    with pytest.raises(NotImplementedError, match="shuffle"):
        write_mat73(arrays, chunks=(4, 16), shuffle=True)


def test_hdf5_v2_object_headers():
    """v2 ("OHDR") object headers parse, including an "OCHK"
    continuation block carrying the layout message — the header
    generation generic (non-MATLAB) HDF5 writers emit."""
    import struct

    import numpy as np

    from oxford_data_pipeline_spark.sources import hdf5mat as H

    arr = np.arange(12.0).reshape(3, 4)
    stored = np.ascontiguousarray(arr.T)
    data = stored.tobytes()
    msgs = H._dataspace_datatype_msgs(stored.shape)
    layout = (H._MSG_LAYOUT, struct.pack("<BBQQ", 3, 1, 0, len(data)))

    payload = data + H._object_header_v2(msgs + [layout])
    assert np.array_equal(H._read_dataset(payload, 0, len(data)), arr)

    # layout via continuation: header -> OCHK block
    cont_enc = struct.pack("<BHB", layout[0], len(layout[1]), 0) + layout[1]
    cont_block = b"OCHK" + cont_enc + struct.pack("<I", 0)
    probe = H._object_header_v2(
        msgs + [(H._MSG_CONTINUATION, struct.pack("<QQ", 0, 0))]
    )
    cm = struct.pack("<QQ", len(data) + len(probe), len(cont_block))
    payload2 = data + H._object_header_v2(msgs + [(H._MSG_CONTINUATION, cm)]) + cont_block
    assert np.array_equal(H._read_dataset(payload2, 0, len(data)), arr)


@pytest.mark.parametrize("case", ["shingle_df", "sign_bucket", "semdedup_cell"])
def test_skew_stress_capped_generators(spark, case):
    """Round-5 verdict stretch item: one hot-key fixture per capped
    candidate generator, asserting MEASURED behavior — the uncapped
    relation has a blocking key above the cap (quadratic pair hazard),
    the capped relation's largest block is <= its bound, so every
    downstream self-join is bounded at cap^2 per key regardless of
    skew."""

    def max_block(df, keys):
        sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        return sizes.agg(F.max("n")).collect()[0][0]

    if case == "shingle_df":
        from oxford_data_pipeline_spark.plans.dedup import df_capped_shingles

        cap = 5
        rows = [(d, "hot stopword gram") for d in range(20)]  # 20% of 100 docs
        rows += [(d, f"rare gram {d % 7}") for d in range(20, 40)]
        sh = spark.createDataFrame(rows, "doc_id int, shingle string")
        assert max_block(sh, ["shingle"]) > cap
        assert max_block(df_capped_shingles(sh, cap=cap), ["shingle"]) <= cap
    elif case == "sign_bucket":
        from oxford_data_pipeline_spark.plans.dedup import (
            _hyperplanes,
            _sign_buckets,
            capped_sign_buckets,
        )

        cap = 10
        # mega-cell: 50 identical vectors land in one sign bucket
        rows = [(v, d, 1.0) for v in range(50) for d in range(4)]
        rows += [(v, d, float((-1) ** (v + d))) for v in range(50, 60) for d in range(4)]
        long = spark.createDataFrame(rows, "vec_id long, dim int, val double")
        planes = _hyperplanes(spark)
        assert max_block(_sign_buckets(long, planes), ["bucket"]) > cap
        capped = capped_sign_buckets(long, planes, cap=cap)
        assert max_block(capped, ["bucket"]) is None or max_block(capped, ["bucket"]) <= cap
    else:  # semdedup_cell
        from oxford_data_pipeline_spark.plans.similarity import subsplit_cells

        cap = 10
        rows = [(v, 1) for v in range(60)] + [(v, 2) for v in range(60, 68)]
        asg = spark.createDataFrame(rows, "vec_id long, cell int")
        assert max_block(asg, ["cell"]) > cap
        split = subsplit_cells(asg, cap)
        assert max_block(split, ["cell", "subcell"]) <= cap
        # split is a partition: no vector lost or duplicated
        assert split.count() == asg.count()


def test_matryoshka_recall_floor_and_monotonicity(spark):
    """Truncated-prefix (32/64 dims) shortlist + full-dim re-rank: the
    audited recall is deterministic, so pin the floor it achieves on
    the synthetic corpus (random embeddings carry NO Matryoshka
    prefix-ordering, so this is the truncation-hostile worst case —
    MRL-trained vectors only do better).  Re-ranking a shortlist can
    never beat the shortlist's own hit set, so recall is bounded by
    shortlist membership; with shortlist = 3x k it must still clear
    the floor."""
    from oxford_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["sim_matryoshka_recall"](spark, SF_DIR).collect()
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.40, mean
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert all(r["n_hit"] <= r["n_true"] for r in rows)


def test_sq8_recall_near_exact(spark):
    """Int8 scalar quantization is the 4x-compression free lunch:
    unlike the aggressive PQ/truncation tiers its flat-search recall
    must be near-exact — pin the high floor that separates the tiers
    (deterministic md5-seeded audit)."""
    from oxford_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["sim_sq8_recall"](spark, SF_DIR).collect()
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.95, mean


def test_dedup_paragraph_flags_real_repeats(spark):
    """Content-defined paragraph dedup (`dedup_paragraph`): every
    flagged paragraph must be REAL repeated content — its token run
    occurs in >= n_docs distinct documents' normalized text — with the
    keeper among the containing docs.  This validates the segmentation
    is content-aligned: the same run segments the same way wherever it
    appears (the property newline boundaries give natural corpora).
    The keeper can exceed the substring-minimum doc because the
    paragraph's LEADING boundary depends on one token outside the run;
    interior alignment is what the dedup relies on."""
    from oxford_data_pipeline_spark.plans.dedup import dedup_paragraph
    from oxford_data_pipeline_spark.plans.textops import tokens_relation

    rows = dedup_paragraph(spark, SF_DIR).collect()
    assert rows, "synthetic corpus must contain repeated paragraphs"
    docs = {
        r["doc_id"]: f" {r['norm']} "
        for r in tokens_relation(spark, SF_DIR).select("doc_id", "norm").collect()
    }
    for r in rows:
        assert r["n_copies"] > 1 and r["n_docs"] >= 1
        assert r["n_docs"] <= r["n_copies"]
        assert r["n_toks"] == len(r["para"].split()) >= 3
        containing = [d for d, n in docs.items() if f" {r['para']} " in n]
        assert len(containing) >= r["n_docs"], r["para"]
        assert r["keep_id"] in containing
        assert min(containing) <= r["keep_id"]


def test_bench_slow_rows_all_pinned():
    """Round-10 verdict item 6: the bench grid's slowest rows must be
    classified, never re-derived each round.  Every query whose
    min-of-reps in the committed BENCH_DETAIL.json exceeds
    bench.SLOW_MIN_SEC must carry a pinned reason in
    bench.EXPLAINED_SLOW (build-shaped work belongs in a build_* index
    phase instead — sim_ivf_retrain's training/reassignment are
    charged to build_ann_index), and every pinned name must still be a
    registered query."""
    import json
    import os

    import bench
    from oxford_data_pipeline_spark.plans import QUERIES

    stale = [n for n in bench.EXPLAINED_SLOW if n not in QUERIES]
    assert not stale, f"EXPLAINED_SLOW names unknown queries: {stale}"
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(bench.__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path) as fh:
        detail = json.load(fh)
    # Load-aware bar (r13 verdict item 2): when the artifact marks
    # itself as produced on a loaded box (grid_load_factor = median
    # min-ratio vs the previously committed grid), normalize the
    # minima by that factor instead of failing the suite on machine
    # load — the r13 driver grid (1.32x uniform inflation) is exactly
    # this case, adjudicated by idle re-measure.
    norm = (
        detail.get("grid_load_factor", 1.0)
        if detail.get("loaded_grid")
        else 1.0
    )
    unpinned = sorted(
        n for n, v in detail["queries_min"].items()
        if v == v and v / norm > bench.SLOW_MIN_SEC
        and n not in bench.EXPLAINED_SLOW
    )
    assert not unpinned, (
        f"slow rows (min > {bench.SLOW_MIN_SEC}s"
        f"{f' after /{norm} load normalization' if norm != 1.0 else ''})"
        f" without a pinned reason:"
        f" {unpinned} — add to bench.EXPLAINED_SLOW or charge the work to"
        " a build phase"
    )


def test_grid_load_factor_detects_uniform_inflation():
    """The load-factor estimator (r13 verdict item 2): a uniformly
    inflated grid yields the inflation as the median ratio; an idle
    grid yields 1.0; too few trustworthy samples (committed rows under
    the noise floor, or a fresh repo with no committed grid) falls
    back to 1.0 rather than guessing."""
    import bench

    committed = {f"q{i}": 0.5 + 0.01 * i for i in range(30)}
    idle = dict(committed)
    assert bench._grid_load_factor(idle, committed) == 1.0
    loaded = {n: v * 1.32 for n, v in committed.items()}
    got = bench._grid_load_factor(loaded, committed)
    assert abs(got - 1.32) < 0.01
    # spikes on a minority of rows don't move the median
    spiky = dict(committed)
    for i in range(5):
        spiky[f"q{i}"] = committed[f"q{i}"] * 6.0
    assert bench._grid_load_factor(spiky, committed) == 1.0
    # a FASTER grid never normalizes below 1.0
    faster = {n: v * 0.8 for n, v in committed.items()}
    assert bench._grid_load_factor(faster, committed) == 1.0
    # too few samples -> 1.0
    assert bench._grid_load_factor(loaded, dict(list(committed.items())[:5])) == 1.0
    assert bench._grid_load_factor({}, {}) == 1.0
    # sub-noise-floor committed rows are excluded from the sample
    tiny = {f"t{i}": 0.05 for i in range(40)}
    tiny_inflated = {n: 0.4 for n in tiny}
    assert bench._grid_load_factor(tiny_inflated, tiny) == 1.0


def test_bench_detail_path_is_per_configuration(tmp_path):
    """Only the reference configuration (sf0.1 at the session's default
    core count) writes BENCH_DETAIL.json; an 8-core or sf0.01 run
    writes its own file, and each run's load-factor reference is read
    from the very file it will write, so grids of different
    configurations are never compared or overwritten."""
    import json

    import bench
    from oxford_data_pipeline_spark.session import DEFAULT_CPUS

    grids = {
        "BENCH_DETAIL.json": {"q": 1.0},
        "BENCH_DETAIL_c8.json": {"q": 2.0},
        "BENCH_DETAIL_sf0.01.json": {"q": 3.0},
        "BENCH_DETAIL_c8_sf0.01.json": {"q": 4.0},
    }
    for name, qmin in grids.items():
        (tmp_path / name).write_text(json.dumps({"queries_min": qmin}))
    for cpus, sf, name in (
        (DEFAULT_CPUS, bench.REFERENCE_SF, "BENCH_DETAIL.json"),
        (8, 0.1, "BENCH_DETAIL_c8.json"),
        (DEFAULT_CPUS, 0.01, "BENCH_DETAIL_sf0.01.json"),
        (8, 0.01, "BENCH_DETAIL_c8_sf0.01.json"),
    ):
        path, committed_min = bench.detail_grid(cpus, sf, root=str(tmp_path))
        assert path == str(tmp_path / name), (cpus, sf, path)
        assert committed_min == grids[name], (cpus, sf, committed_min)
    # an unrecognised scale factor is never the reference either
    path, committed_min = bench.detail_grid(DEFAULT_CPUS, None, root=str(tmp_path))
    assert os.path.basename(path) != "BENCH_DETAIL.json"
    assert committed_min == {}
    # the default root is the committed reference grid next to bench.py
    path, _ = bench.detail_grid(DEFAULT_CPUS, bench.REFERENCE_SF)
    assert path == os.path.join(
        os.path.dirname(os.path.abspath(bench.__file__)), "BENCH_DETAIL.json"
    )


def test_lsh_tier_contract_is_a_guard_not_prose():
    """The LSH candidate tier (recall ~0.4) must NEVER feed a serving
    query directly — its contract is candidate generation where an
    exact verify follows (r12 verdict item 4, promoting the docstring
    contract to a tripwire).  AST-walk every plans/ and streaming/
    module: the ONLY permitted call sites of `sim_lsh_ann` are its
    registration and `sim_lsh_recall` (the recall audit, which joins
    every candidate against the exact brute-force truth — the verify).
    Wiring a new consumer fails here until it is either verify-followed
    and allowlisted, or re-pointed at the IVFADC+R serving tier."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "oxford_data_pipeline_spark",
    )
    allowed = {("plans/similarity.py", "sim_lsh_recall")}
    found = set()
    for sub in ("plans", "streaming"):
        d = os.path.join(pkg, sub)
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(d, fn)
            tree = ast.parse(open(path).read())
            # record the enclosing function of every sim_lsh_ann CALL
            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    name = getattr(f, "id", getattr(f, "attr", None))
                    if name == "sim_lsh_ann":
                        found.add(
                            (f"{sub}/{fn}",
                             self.stack[-1] if self.stack else "<module>")
                        )
                    self.generic_visit(node)

            V().visit(tree)
    assert found == allowed, (
        f"sim_lsh_ann consumed outside the verify-followed allowlist: "
        f"{sorted(found - allowed)} — serve from sim_ivfpq_rerank or "
        f"add an exact verify and extend the allowlist deliberately"
    )
    # and the contract itself must stay pinned in the docstring
    from oxford_data_pipeline_spark.plans.similarity import sim_lsh_ann

    assert "TIER CONTRACT" in sim_lsh_ann.__doc__


def test_triangle_kernel_on_crafted_graphs(spark):
    """The compact-forward kernel on known graphs: a 4-clique gives
    every node 3 triangles and local_cc 1; a 3-path gives zero
    triangles with cc 0; an attached pendant keeps its cc 0 while the
    clique nodes' coefficients drop by exactly the added
    degree-pair mass."""
    from oxford_data_pipeline_spark.plans.dedup import triangle_stats

    # K4 on {1,2,3,4} plus pendant 5-1 plus disjoint path 10-11-12
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (1, 5), (10, 11), (11, 12)]
    pairs = spark.createDataFrame(edges, "doc1 long, doc2 long")
    got = {r["doc_id"]: r for r in triangle_stats(pairs).collect()}
    # K4: C(4,3) = 4 triangles, 3 per node
    assert sum(r["n_triangles"] for r in got.values()) % 3 == 0
    for v in (2, 3, 4):
        assert got[v]["n_triangles"] == 3 and got[v]["local_cc"] == 1.0
    # node 1 carries the pendant: degree 4, still 3 triangles ->
    # cc = 2*3/(4*3) = 0.5
    assert got[1]["degree"] == 4 and got[1]["n_triangles"] == 3
    assert got[1]["local_cc"] == 0.5
    assert got[5]["degree"] == 1 and got[5]["local_cc"] == 0.0
    # path: no triangles anywhere
    for v in (10, 11, 12):
        assert got[v]["n_triangles"] == 0 and got[v]["local_cc"] == 0.0


def test_triangle_query_matches_bruteforce(spark):
    """On the real near-dup graph: the registered query's per-node
    counts equal a brute-force enumeration over the collected edge set
    (bounded at test SF), and the global sum is divisible by 3."""
    from itertools import combinations

    from oxford_data_pipeline_spark.plans.dedup import (
        dedup_graph_triangles,
        dedup_minhash_lsh,
    )

    edges = {
        (r["doc1"], r["doc2"])
        for r in dedup_minhash_lsh(spark, SF_DIR).select("doc1", "doc2").collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = {v: 0 for v in adj}
    for v, nbrs in adj.items():
        for a, b in combinations(sorted(nbrs), 2):
            if b in adj.get(a, ()):
                brute[v] += 1
    got = {r["doc_id"]: r for r in dedup_graph_triangles(spark, SF_DIR).collect()}
    assert set(got) == set(adj)
    for v in adj:
        assert got[v]["n_triangles"] == brute[v], v
        assert got[v]["degree"] == len(adj[v])
        assert 0.0 <= got[v]["local_cc"] <= 1.0
    assert sum(brute.values()) % 3 == 0


def test_pair_dot_rejects_non_identifier(spark):
    """r14 advisor item 1: pair_dot/vec_sumsq interpolate column names
    into a raw SQL string — a reserved word or non-identifier name must
    raise instead of misparsing or silently binding as a struct path.
    (The `spark` fixture is needed only for the positive-path F.expr
    construction at the end.)"""
    from oxford_data_pipeline_spark.plans.projection import pair_dot, vec_sumsq

    for bad in ("a.b", "a b", "a-b", "1a", "a`b", "a[0]", ""):
        with pytest.raises(ValueError):
            pair_dot(bad, "ok")
        with pytest.raises(ValueError):
            pair_dot("ok", bad)
        with pytest.raises(ValueError):
            vec_sumsq(bad)
    # plain identifiers still build (no Spark session needed for expr)
    pair_dot("wa", "wb", 2)
    vec_sumsq("vec", 2)


def test_m12_centered_materialized_once(spark):
    """r14 optimization guard: m12_sign_alignment materializes the
    bounded per-(type, user, hour) centered profile ONCE
    (localCheckpoint) — its four consumers (peaks, baseline series,
    corrs, signed) must read the checkpoint, not re-expand the
    corpus-sized events aggregation.  Before the fix the executed plan
    carried four independent parquet-scan towers; a regression brings
    the parquet scans back into the final plan."""
    from oxford_data_pipeline_spark.plans.alignment import m12_sign_alignment

    df = m12_sign_alignment(spark, SF_DIR)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # accept both DSv1 and DSv2 scan renderings (r14 advisor item 3):
    # a Spark upgrade may print "BatchScan parquet" instead of
    # "Scan parquet", and the materialized relation may render as
    # ExistingRDD or LocalTableScan — the invariant is "no file scans,
    # at least one materialized-relation scan", not the exact strings
    n_file_scans = plan.count("Scan parquet") + plan.count("BatchScan")
    assert n_file_scans == 0, (
        f"expected all m12 subtrees to read the materialized centered"
        f" relation (0 file scans in the final plan), got {n_file_scans}"
    )
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
