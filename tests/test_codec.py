"""Posting-block codec round-trip + block-max (functions/codec.py)."""

import random

from search_engine_framework_spark.functions.codec import (
    Block,
    bm25_block_upper_bound,
    decode_block,
    encode_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip():
    vals = [0, 1, 127, 128, 255, 300, 2**20, 2**35, 2**60]
    assert varint_decode(varint_encode(vals)) == vals


def test_encode_decode_roundtrip():
    rng = random.Random(13)
    doc_ids = sorted(rng.sample(range(10**9), 500))
    tfs = [rng.randint(1, 50) for _ in doc_ids]
    doclens = [rng.randint(1, 500) for _ in doc_ids]
    positions = [
        sorted(rng.sample(range(1000), tf)) for tf in tfs
    ]
    blocks = encode_blocks(doc_ids, tfs, doclens, positions, block_size=128)
    assert len(blocks) == 4  # ceil(500/128)
    got_d, got_t, got_l, got_p = [], [], [], []
    for b in blocks:
        d, t, l, p = decode_block(b)
        got_d += d
        got_t += t
        got_l += l
        got_p += p
    assert got_d == doc_ids
    assert got_t == tfs
    assert got_l == doclens
    assert got_p == positions


def test_block_max_metadata():
    blocks = encode_blocks([1, 2, 3], [5, 9, 2], [10, 10, 10], [[0] * 5, [0] * 9, [0] * 2])
    assert blocks[0].max_tf == 9
    ub = bm25_block_upper_bound(9, idf=2.0, k1=1.2, b=0.75)
    assert ub == 2.0 * 9 / (9 + 1.2 * 0.25)


def test_dict_shaped_block_decodes():
    blocks = encode_blocks([7], [2], [11], [[1, 4]])
    d, t, l, p = decode_block(blocks[0].__dict__)
    assert (d, t, l, p) == ([7], [2], [11], [[1, 4]])


def test_vectorized_matches_pure_python_reference():
    """The NumPy fast paths must produce byte-identical output to the
    pure-Python LEB128 reference (hypothesis-style randomized check)."""
    import random

    from search_engine_framework_spark.functions.codec import (
        decode_block_arrays,
        varint_decode_py,
        varint_encode,
        varint_encode_py,
    )

    rng = random.Random(7)
    for _ in range(100):
        vals = [
            rng.randrange(0, 1 << rng.randrange(1, 40))
            for _ in range(rng.randrange(0, 200))
        ]
        enc = varint_encode(vals)
        assert enc == varint_encode_py(vals)
        assert varint_decode_py(enc) == vals

    for _ in range(30):
        n = rng.randrange(1, 400)
        ids = sorted(rng.sample(range(10**6), n))
        tfs, poss, dls = [], [], []
        for _i in range(n):
            tf = rng.randrange(1, 8)
            poss.append(sorted(rng.sample(range(5000), tf)))
            tfs.append(tf)
            dls.append(rng.randrange(1, 5000))
        blocks = encode_blocks(ids, tfs, dls, poss, block_size=64)
        rt_ids, rt_tfs, rt_dls, rt_pos = [], [], [], []
        arr_pos = []
        for b in blocks:
            a, t, l, p = decode_block(b)
            rt_ids += a
            rt_tfs += t
            rt_dls += l
            rt_pos += p
            _, _, _, counts, flat = decode_block_arrays(b)
            assert counts.tolist() == t
            arr_pos += flat.tolist()
        assert rt_ids == ids and rt_tfs == tfs and rt_dls == dls
        assert rt_pos == poss
        assert arr_pos == [x for p in poss for x in p]
