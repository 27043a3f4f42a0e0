"""Property tests: decode(encode(x)) == x for the posting block codec."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from connectors_spark.functions.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_shard,
    encode_shard,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf, off = varint_encode(arr)
    got = varint_decode(buf, 0, len(arr))
    assert np.array_equal(got, arr)
    # offsets point at value starts
    for i in [0, len(vals) // 2, len(vals) - 1]:
        if 0 <= i < len(vals):
            one = varint_decode(buf, int(off[i]), 1)
            assert one[0] == arr[i]


def _random_shard(rng, n):
    doc_idx = np.sort(rng.choice(np.arange(n * 20, dtype=np.int64), size=n, replace=False))
    tf = rng.randint(1, 100, size=n).astype(np.int64)
    dl = rng.randint(1, 500, size=n).astype(np.int64)
    tfn = tf / (tf + 1.2 * (0.25 + 0.75 * dl / 70.0))
    return doc_idx, tf, dl, tfn


def test_shard_roundtrip_and_blocks():
    rng = np.random.RandomState(0)
    for n in [1, 2, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1, 1000, 5000]:
        doc_idx, tf, dl, tfn = _random_shard(rng, n)
        row = encode_shard(doc_idx, tf, dl, tfn)
        assert row["n_docs"] == n
        d, t, l = decode_shard(row)
        assert np.array_equal(d, doc_idx)
        assert np.array_equal(t, tf)
        assert np.array_equal(l, dl)
        # per-block decode agrees with the full decode
        n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
        assert len(row["block_last_doc"]) == n_blocks
        for bi in range(n_blocks):
            db, tb, lb = decode_block(row, bi)
            s, e = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, n)
            assert np.array_equal(db, doc_idx[s:e])
            assert np.array_equal(tb, tf[s:e])
            assert np.array_equal(lb, dl[s:e])
            assert row["block_last_doc"][bi] == doc_idx[e - 1]
            assert row["block_max_w"][bi] == tfn[s:e].max()


def test_encode_unsorted_input_is_sorted():
    rng = np.random.RandomState(1)
    doc_idx, tf, dl, tfn = _random_shard(rng, 300)
    perm = rng.permutation(300)
    row = encode_shard(doc_idx[perm], tf[perm], dl[perm], tfn[perm])
    d, t, l = decode_shard(row)
    assert np.array_equal(d, doc_idx)
    assert np.array_equal(t, tf)
    assert np.array_equal(l, dl)


def test_compression_ratio_reasonable():
    rng = np.random.RandomState(2)
    doc_idx, tf, dl, tfn = _random_shard(rng, 100_000)
    row = encode_shard(doc_idx, tf, dl, tfn)
    # dense-ish gaps + small tfs: far below 8 bytes/entry raw
    assert len(row["doc_gaps"]) < 100_000 * 3
    assert len(row["tfs"]) < 100_000 * 2


def test_positions_roundtrip():
    from connectors_spark.functions.codec import decode_shard_positions

    rng = np.random.RandomState(5)
    for n in [1, 3, BLOCK_SIZE + 7, 500]:
        doc_idx, tf, dl, tfn = _random_shard(rng, n)
        positions = [
            np.sort(rng.choice(np.arange(1000), size=int(t), replace=False))
            for t in tf
        ]
        row = encode_shard(doc_idx, tf, dl, tfn, positions=positions)
        assert row["positions"] is not None
        got = decode_shard_positions(row)
        # encode sorts by doc_idx; here doc_idx already sorted
        assert len(got) == n
        for g, p in zip(got, positions):
            assert np.array_equal(g, p)
        assert len(row["block_pos_offsets"]) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE


def test_positions_absent_is_none():
    from connectors_spark.functions.codec import decode_shard_positions

    rng = np.random.RandomState(6)
    doc_idx, tf, dl, tfn = _random_shard(rng, 10)
    row = encode_shard(doc_idx, tf, dl, tfn)
    assert row["positions"] is None
    assert decode_shard_positions(row) is None


def test_batch_decode_matches_per_row_decode():
    """decode_shards_batch over an Arrow batch of encoded rows equals
    per-row decode_shard / decode_shard_positions — every batch split
    (sliced arrays carry a non-zero offset), single-posting rows and
    doc_idx near 2^40."""
    import pyarrow as pa

    from connectors_spark.functions.codec import (
        decode_shard_positions,
        decode_shards_batch,
    )

    rng = np.random.RandomState(7)
    rows = []
    for n in [1, 1, 3, BLOCK_SIZE, 1, BLOCK_SIZE + 5, 700, 1, 2, 40]:
        doc_idx, tf, dl, tfn = _random_shard(rng, n)
        if rng.rand() < 0.5:
            doc_idx = doc_idx + (1 << 40)  # range-partition id jumps
        pos = [np.sort(rng.choice(np.arange(1000), size=int(t), replace=False))
               for t in tf]
        rows.append(encode_shard(doc_idx, tf, dl, tfn, positions=pos))
    cols = {c: pa.array([r[c] for r in rows], pa.binary())
            for c in ("doc_gaps", "tfs", "dls", "positions")}
    n_docs = np.array([r["n_docs"] for r in rows], dtype=np.int64)
    m = len(rows)
    for a in range(m):
        for b in range(a + 1, m + 1):
            starts, d, t, l, p = decode_shards_batch(
                n_docs[a:b], *(cols[c].slice(a, b - a)
                               for c in ("doc_gaps", "tfs", "dls",
                                         "positions")))
            assert len(d) == len(t) == len(l) == int(n_docs[a:b].sum())
            assert len(p) == int(t.sum())
            pstarts = np.concatenate(([0], np.cumsum(t)))
            for i, row in enumerate(rows[a:b]):
                exp_d, exp_t, exp_l = decode_shard(row)
                sl = slice(starts[i], starts[i] + row["n_docs"])
                assert np.array_equal(d[sl], exp_d)
                assert np.array_equal(t[sl], exp_t)
                assert np.array_equal(l[sl], exp_l)
                for j, exp_p in enumerate(decode_shard_positions(row)):
                    k = starts[i] + j
                    assert np.array_equal(p[pstarts[k]:pstarts[k + 1]], exp_p)
    # streams that are not asked for are not decoded
    _, d, t, l, p = decode_shards_batch(n_docs, cols["doc_gaps"])
    assert t is None and l is None and p is None
    assert len(d) == int(n_docs.sum())


def _posting_table(rng, with_positions: bool):
    """Encoder input rows sorted by (term, shard, doc_idx): single-posting
    groups, groups longer than BLOCK_SIZE, every term split over two
    shards. Returns (table, expected output rows from encode_shard)."""
    import pyarrow as pa

    from connectors_spark.operators.score import tf_norm_np

    sizes = [1, 1, 3, BLOCK_SIZE, 1, BLOCK_SIZE + 1, 300, 2,
             2 * BLOCK_SIZE + 5, 1]
    cols = {c: [] for c in ("term", "doc_idx", "tf", "dl", "df",
                            "positions", "n_shards", "shard", "bucket")}
    exp = []
    for g, n in enumerate(sizes):
        term, shard, bucket = f"t{g // 2:03d}", g % 2, g // 2 % 3
        df = sizes[g - shard] + sizes[g - shard + 1]
        doc_idx, tf, dl, _ = _random_shard(rng, n)
        if g % 3 == 0:
            doc_idx = doc_idx + (1 << 40)  # range-partition id jumps
        pos = [np.sort(rng.choice(np.arange(5000), size=int(t),
                                  replace=False)) for t in tf]
        row = encode_shard(doc_idx, tf, dl, tf_norm_np(tf, dl, 70.0, 1.2, 0.75),
                           positions=pos if with_positions else None)
        exp.append({"term": term, "bucket": bucket, "shard": shard,
                    "n_shards": 2, "df": df, **row})
        for c, v in (("term", term), ("df", df), ("n_shards", 2),
                     ("shard", shard), ("bucket", bucket)):
            cols[c] += [v] * n
        cols["doc_idx"] += doc_idx.tolist()
        cols["tf"] += tf.tolist()
        cols["dl"] += dl.tolist()
        cols["positions"] += ([p.tolist() for p in pos] if with_positions
                              else [None] * n)
    types = {"term": pa.string(), "doc_idx": pa.int64(), "tf": pa.int64(),
             "dl": pa.int64(), "df": pa.int64(),
             "positions": pa.list_(pa.int32()), "n_shards": pa.int32(),
             "shard": pa.int32(), "bucket": pa.int32()}
    return pa.table({c: pa.array(v, types[c]) for c, v in cols.items()}), exp


def test_arrow_encoder_matches_encode_shard():
    """make_encode_arrow_partition (one encode_streams pass per batch)
    equals per-group encode_shard byte for byte in every output column —
    positional and not, for batch splits that cut (term, shard) runs so
    the carry across batches is exercised."""
    import pyarrow as pa

    from connectors_spark.operators.index import make_encode_arrow_partition
    from connectors_spark.schema import ENCODED_POSTINGS_SCHEMA

    names = [f.name for f in ENCODED_POSTINGS_SCHEMA.fields]
    rng = np.random.RandomState(11)
    for with_positions in (True, False):
        tbl, exp = _posting_table(rng, with_positions)
        m = tbl.num_rows
        cuts = [[], [1], [2, 3, 4], [BLOCK_SIZE // 2, BLOCK_SIZE + 7],
                sorted(rng.choice(np.arange(1, m), 12, replace=False))]
        cuts += [list(range(k, m, k)) for k in (1, 7, BLOCK_SIZE)]
        for cut in cuts:
            bounds = [0, *map(int, cut), m]
            batches = [tbl.slice(a, e - a).to_batches()[0]
                       for a, e in zip(bounds, bounds[1:])]
            enc = make_encode_arrow_partition(70.0, 1.2, 0.75)
            out = pa.Table.from_batches(list(enc(iter(batches))))
            assert out.column_names == names
            got = out.to_pylist()
            assert len(got) == len(exp), (with_positions, cut)
            for g, e in zip(got, exp):
                for c in names:
                    assert g[c] == e[c], (with_positions, cut, e["term"], c)
                assert (g["positions"] is not None) == with_positions
