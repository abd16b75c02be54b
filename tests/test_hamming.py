"""hamming_pairs (operators/dedup.py): banded Hamming-distance LSH over
integer signatures (Manku et al. 2007's simhash-table layout), and
perceptual_hash (operators/multimodal.py): integer aHash fingerprints.

The load-bearing property is pigeonhole COMPLETENESS: with
bands >= max_hamming + 1 the band join must generate every pair within
the radius — pinned against a brute-force Python reference on adversarial
signatures (clustered low-bit diffs, not just random)."""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from aqueducts_spark.operators.dedup import hamming_pairs, simhash
from aqueducts_spark.operators.multimodal import perceptual_hash

SCHEMA = "doc_id long, simhash long"


def _brute(sigs, max_hamming):
    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(sorted(sigs), 2):
        h = bin(sa ^ sb).count("1")
        if h <= max_hamming:
            out.add((ia, ib, h))
    return out


def _pairs(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    return {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(df, **kw).collect()
    }


def test_completeness_vs_brute_force_adversarial(spark):
    # adversarial: base signatures plus variants with 1..6 flipped bits
    # CLUSTERED in one region (the worst case for banding — all diffs
    # can land in few bands) and spread across regions
    rng = random.Random(7)
    rows, nid = [], 0
    for _ in range(12):
        base = rng.getrandbits(60)
        rows.append((nid, base)); nid += 1
        for flips in (1, 2, 3, 4, 6):
            start = rng.randrange(0, 55)
            sig = base
            for b in range(flips):
                sig ^= 1 << ((start + b) % 60)
            rows.append((nid, sig)); nid += 1
        for flips in (2, 4):
            sig = base
            for b in rng.sample(range(60), flips):
                sig ^= 1 << b
            rows.append((nid, sig)); nid += 1
    for mh in (1, 3, 4):
        got = _pairs(spark, rows, max_hamming=mh)
        assert got == _brute([(i, s) for i, s in rows], mh), mh


def test_zero_radius_is_exact_duplicate_join(spark):
    rows = [(1, 5), (2, 5), (3, 6), (4, 5)]
    got = _pairs(spark, rows, max_hamming=0)
    assert got == {(1, 2, 0), (1, 4, 0), (2, 4, 0)}


def test_more_bands_than_default_still_complete(spark):
    rows = [(1, 0), (2, 1), (3, 3), (4, 1 << 59)]
    got = _pairs(spark, rows, max_hamming=2, bands=10)
    assert got == _brute(rows, 2)


def test_validation(spark):
    df = spark.createDataFrame([(1, 5)], SCHEMA)
    with pytest.raises(ValueError, match="bands"):
        hamming_pairs(df, max_hamming=3, bands=3)  # pigeonhole broken
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_pairs(df, max_hamming=-1)
    with pytest.raises(ValueError, match="sig_bits"):
        hamming_pairs(df, sig_bits=64)


def test_out_of_range_signature_raises(spark):
    df = spark.createDataFrame([(1, 5), (2, 1 << 40)], SCHEMA)
    with pytest.raises(Exception) as exc:
        hamming_pairs(df, max_hamming=1, sig_bits=16).collect()
    assert "completeness" in str(exc.value)


def test_null_id_raises_null_sig_dropped(spark):
    df = spark.createDataFrame([(None, 5), (2, 5)], SCHEMA)
    with pytest.raises(Exception) as exc:
        hamming_pairs(df, max_hamming=1).collect()
    assert "NULL id" in str(exc.value)
    df2 = spark.createDataFrame([(1, None), (2, 5), (3, 5)], SCHEMA)
    assert _pairs(spark, [(1, None), (2, 5), (3, 5)], max_hamming=1) == {
        (2, 3, 0)
    }


def test_bucket_cap_drops_degenerate_bucket(spark):
    # 50 identical signatures pile into their band buckets; a cap below
    # 50 drops those buckets.  The near pair differs in a HIGH bit, so
    # its shared LOW band (value 1, population 2) survives the cap —
    # while the pile's pairs are all dropped.  (A true pair whose ONLY
    # shared band is the degenerate bucket would be lost — that is the
    # documented trade of max_bucket_size.)
    rows = [(i, 7) for i in range(50)] + [(100, 1), (101, 1 | (1 << 59))]
    got = _pairs(spark, rows, max_hamming=1, max_bucket_size=10)
    assert got == {(100, 101, 1)}
    # and None restores the strict guarantee
    got_all = _pairs(spark, rows, max_hamming=1, max_bucket_size=None)
    assert len(got_all) == 50 * 49 // 2 + 1


def test_composes_with_simhash_on_real_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = hamming_pairs(simhash(docs), max_hamming=8)
    rows = pairs.collect()
    # the testdata plants fuzzy duplicates: some must land within 8 bits
    assert len(rows) > 0
    assert all(r.hamming <= 8 for r in rows)
    # spot-verify one pair's hamming against the fingerprints
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    r0 = rows[0]
    assert bin(fp[r0.id_a] ^ fp[r0.id_b]).count("1") == r0.hamming


def test_signature_computation_runs_once_for_self_join(spark):
    # r9: the slim banded relation is MATERIALIZED before the
    # self-join — ReusedExchange only ever fired under collect()-style
    # actions, and on the write path (what sinks and the bench run)
    # both join sides re-executed the whole signature subtree.  Assert
    # the write-path executed plan contains no Generate/explode at all
    # (the one explode ran eagerly inside the materialization) and no
    # source re-scan.
    df = spark.createDataFrame([(i, i) for i in range(64)], SCHEMA)
    out = hamming_pairs(df, max_hamming=1)
    out.write.mode("overwrite").format("noop").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Generate posexplode") == 0
    # both sides read the checkpointed blocks
    assert plan.count("Scan ExistingRDD") == 2


# --- perceptual_hash ------------------------------------------------------


def _py_ahash(data: bytes, gh=7, gw=8):
    """Pure-Python reference: fake codec + nearest resize + integer
    aHash, independent of the numpy implementation."""
    w = 4 + data[0] % 5
    h = 4 + data[len(data) // 2] % 5
    tiled = [data[k % len(data)] for k in range(w * h)]
    lv = [
        tiled[(r * h // gh) * w + (c * w // gw)]
        for r in range(gh)
        for c in range(gw)
    ]
    total = sum(lv)
    n = gh * gw
    return sum(1 << k for k in range(n) if lv[k] * n >= total)


def test_phash_matches_python_reference(spark):
    payloads = [
        (1, b"hello world, this is payload one"),
        (2, b"x" * 100),
        (3, bytes(range(256)) * 3),
        (4, b"\x00\xff" * 40),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, data binary")
    got = {
        r.doc_id: r.phash
        for r in perceptual_hash(df, "data", "doc_id", codec="fake").collect()
    }
    for i, d in payloads:
        assert got[i] == _py_ahash(d), i


def test_phash_identical_payloads_hamming_zero(spark):
    base = bytes(range(100, 200))
    near = bytes([100, 99]) + bytes(range(102, 200))  # two bytes changed
    far = bytes(reversed(range(100)))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, data binary",
    )
    sigs = perceptual_hash(df, "data", "doc_id", codec="fake")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(
            sigs, sig_col="phash", max_hamming=10, sig_bits=56
        ).collect()
    }
    assert pairs[(1, 2)] == 0  # identical bytes -> identical hash
    assert (1, 3) in pairs and pairs[(1, 3)] <= 10  # small edit stays near
    assert (1, 4) not in pairs  # unrelated content


def test_phash_null_skipped_and_grid_validated(spark):
    df = spark.createDataFrame(
        [(1, b"abcdef"), (2, None)], "doc_id long, data binary"
    )
    rows = perceptual_hash(df, "data", "doc_id", codec="fake").collect()
    assert [r.doc_id for r in rows] == [1]
    with pytest.raises(ValueError, match="grid"):
        perceptual_hash(df, "data", "doc_id", grid=(8, 8))


# --- hamming_filter (ingestion near-dup filter, stateless) ----------------


def test_hamming_filter_drops_near_and_keeps_far(spark):
    from aqueducts_spark.operators.dedup import hamming_filter

    index = spark.createDataFrame([(100,), (1 << 40,)], "simhash long")
    rows = [
        (1, 100),          # exact match of index entry -> dropped
        (2, 101),          # hamming 1 -> dropped
        (3, (1 << 40) | 3),  # hamming 2 of second entry -> dropped
        (4, 455),          # 0b111000111: hamming 5 / 7 from the two -> kept
        (5, None),         # no fingerprint -> kept
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    kept = sorted(
        r.doc_id
        for r in hamming_filter(df, index, max_hamming=2).collect()
    )
    assert kept == [4, 5]


def test_hamming_filter_out_of_range_raises(spark):
    import pytest

    from aqueducts_spark.operators.dedup import hamming_filter

    index = spark.createDataFrame([(100,), (5,)], "simhash long")
    df = spark.createDataFrame([(1, 1 << 20)], SCHEMA)
    with pytest.raises(Exception) as exc:
        hamming_filter(df, index, max_hamming=1, sig_bits=16).collect()
    assert "input signature outside" in str(exc.value)
    bad_idx = spark.createDataFrame([(1 << 20,)], "simhash long")
    ok = spark.createDataFrame([(1, 5)], SCHEMA)
    with pytest.raises(Exception) as exc:
        hamming_filter(ok, bad_idx, max_hamming=1, sig_bits=16).collect()
    assert "index signature outside" in str(exc.value)


def test_hamming_filter_agrees_with_pairs(spark):
    # filter(df, index) keeps exactly the rows hamming_pairs finds no
    # partner for in the index (cross-operator consistency)
    import random

    from aqueducts_spark.operators.dedup import hamming_filter

    rng = random.Random(11)
    corpus = [(i, rng.getrandbits(60)) for i in range(80)]
    index_sigs = [s for _, s in corpus[:20]] + [
        s ^ (1 << rng.randrange(60)) for _, s in corpus[20:40]
    ]
    df = spark.createDataFrame(corpus, SCHEMA)
    idx = spark.createDataFrame([(s,) for s in index_sigs], "simhash long")
    kept = {
        r.doc_id for r in hamming_filter(df, idx, max_hamming=2).collect()
    }
    expect = {
        i
        for i, s in corpus
        if all(bin(s ^ t).count("1") > 2 for t in index_sigs)
    }
    assert kept == expect


def test_phash_property_matches_reference_on_random_bytes(spark):
    """Property sweep: the operator's numpy aHash equals the pure-Python
    reference for arbitrary payload bytes (one Spark round-trip for the
    whole batch — hypothesis would re-launch a job per example)."""
    import random as _random

    rng = _random.Random(99)
    payloads = [
        (i, bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400))))
        for i in range(40)
    ]
    # adversarial constants: all-equal bytes (every level == mean) and
    # two-level splits (threshold boundary)
    payloads += [
        (100, bytes([7] * 50)),
        (101, bytes([0, 255] * 30)),
        (102, bytes([127, 128] * 25)),
        (103, bytes([1])),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, data binary")
    got = {
        r.doc_id: r.phash
        for r in perceptual_hash(df, "data", "doc_id", codec="fake").collect()
    }
    for i, d in payloads:
        assert got[i] == _py_ahash(d), (i, d[:20])


def test_phash_undecodable_policy(spark):
    # empty payloads are undecodable (vs NULL, which is skipped):
    # default fails loudly naming the id; 'skip' drops and continues
    df = spark.createDataFrame(
        [(1, b"good payload"), (2, b""), (3, None)],
        "doc_id long, data binary",
    )
    with pytest.raises(Exception) as exc:
        perceptual_hash(df, "data", "doc_id", codec="fake").collect()
    assert "failed to decode" in str(exc.value)
    rows = perceptual_hash(
        df, "data", "doc_id", codec="fake", on_undecodable="skip"
    ).collect()
    assert [r.doc_id for r in rows] == [1]
    with pytest.raises(ValueError, match="on_undecodable"):
        perceptual_hash(df, "data", "doc_id", on_undecodable="quarantine")


def test_completeness_at_small_sig_bits_and_max_bands(spark):
    # width-1 bands (bands == sig_bits) and uneven widths both keep the
    # pigeonhole guarantee at reduced signature width
    rng = random.Random(3)
    rows = [(i, rng.getrandbits(16)) for i in range(40)]
    rows += [(100 + i, rows[i][1] ^ (1 << (i % 16))) for i in range(10)]
    for bands in (3, 7, 16):
        got = _pairs(
            spark, rows, max_hamming=2, bands=bands, sig_bits=16
        )
        assert got == _brute(rows, 2), bands


# ---------------------------------------------------------------------------
# simhash_wide / hamming_pairs_wide (61..120-bit signatures)
# ---------------------------------------------------------------------------


def test_simhash_wide_matches_python(spark, sf_dir):
    """Both 60-bit halves replayed in pure Python from the md5 hex."""
    import hashlib

    from aqueducts_spark.operators.dedup import simhash_wide

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    got = {r.doc_id: list(r.simhash) for r in simhash_wide(df, bits=120).collect()}
    for row in df.select("doc_id", "text").collect():
        toks = [t for t in row.text.lower().strip().split() if t]
        want = []
        for half in range(2):
            counts = [0] * 60
            for t in toks:
                hx = hashlib.md5(t.encode()).hexdigest()
                h = int(hx[15 * half: 15 * (half + 1)], 16)
                for b in range(60):
                    counts[b] += (h >> b) & 1
            fp = sum(
                1 << b for b in range(60) if counts[b] * 2 > len(toks)
            )
            want.append(fp)
        assert got[row.doc_id] == want, row.doc_id


def test_simhash_wide_partial_last_element(spark):
    """bits=90: second element carries only 30 bits and stays under
    2^30; empty text keeps its row as [0, 0]."""
    from aqueducts_spark.operators.dedup import simhash_wide

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "   ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: list(r.simhash) for r in simhash_wide(df, bits=90).collect()}
    assert got[2] == [0, 0]
    assert 0 <= got[1][1] < (1 << 30)


def test_hamming_pairs_wide_completeness_vs_bruteforce(spark, sf_dir):
    """Banding (incl. element-straddling bands at bands=7) finds
    EXACTLY the brute-force close pairs — pigeonhole completeness."""
    from aqueducts_spark.operators.dedup import hamming_pairs_wide, simhash_wide

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    # plant near-dups: same text lightly suffixed -> small hamming
    planted = docs.selectExpr("doc_id + 1000000 AS doc_id", "text || ' x' AS text")
    both = docs.select("doc_id", "text").unionByName(planted)
    sigs = simhash_wide(both, bits=120).cache()
    rows = {r.doc_id: list(r.simhash) for r in sigs.collect()}
    want = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(rows[a][0] ^ rows[b][0]).count("1") + bin(
                rows[a][1] ^ rows[b][1]
            ).count("1")
            if h <= 4:
                want.add((a, b, h))
    for bands in (5, 7):  # 7 does not divide 120: bands straddle longs
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_pairs_wide(
                sigs, max_hamming=4, bands=bands, max_bucket_size=None
            ).collect()
        }
        assert got == want, bands
    assert len(want) > 0  # the planted pairs actually qualify
    sigs.unpersist()


def test_hamming_pairs_wide_contracts(spark):
    import pytest as _pytest

    from aqueducts_spark.operators.dedup import hamming_pairs_wide

    df = spark.createDataFrame(
        [(1, [3, 5]), (2, [3, 4])], "doc_id long, simhash array<long>"
    )
    with _pytest.raises(ValueError, match="61..120"):
        hamming_pairs_wide(df, sig_bits=60)
    with _pytest.raises(ValueError, match="bands"):
        hamming_pairs_wide(df, max_hamming=3, bands=3)
    bad = spark.createDataFrame(
        [(1, [3])], "doc_id long, simhash array<long>"
    )
    with _pytest.raises(Exception, match="banding completeness"):
        hamming_pairs_wide(bad, sig_bits=120).collect()
    nullid = spark.createDataFrame(
        [(None, [3, 5]), (2, [3, 5])], "doc_id long, simhash array<long>"
    )
    with _pytest.raises(Exception, match="NULL id"):
        hamming_pairs_wide(nullid, sig_bits=120).collect()


def test_simhash_wide_xxhash_fast_path_same_shape(spark, sf_dir):
    from aqueducts_spark.operators.dedup import simhash_wide

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    got = simhash_wide(df, bits=120, hash_fn="xxhash64").collect()
    assert all(
        len(r.simhash) == 2 and all(0 <= e < (1 << 60) for e in r.simhash)
        for r in got
    )


def test_hamming_filter_wide_drops_near_keeps_far_and_nulls(spark):
    from aqueducts_spark.operators.dedup import hamming_filter_wide

    index = spark.createDataFrame(
        [([0b1111, 0b0011],)], "simhash array<long>"
    )
    df = spark.createDataFrame(
        [
            (1, [0b1111, 0b0011]),   # distance 0 -> dropped
            (2, [0b1110, 0b0111]),   # distance 2 -> dropped
            (3, [0b0000, 0b1100]),   # distance 8 -> kept
            (4, None),               # NULL signature -> kept
        ],
        "doc_id long, simhash array<long>",
    )
    kept = {r.doc_id for r in hamming_filter_wide(df, index, max_hamming=2).collect()}
    assert kept == {3, 4}


def test_hamming_filter_wide_agrees_with_pairs(spark, sf_dir):
    """Screen == pairing: a doc survives the filter iff hamming_pairs_wide
    finds no partner for it in the index."""
    from aqueducts_spark.operators.dedup import (
        hamming_filter_wide,
        hamming_pairs_wide,
        simhash_wide,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    index_sigs = simhash_wide(docs.where("doc_id % 2 = 0"), bits=120)
    new_sigs = simhash_wide(
        docs.where("doc_id % 2 = 1").select("doc_id", "text")
        .unionByName(
            docs.where("doc_id % 2 = 0 AND doc_id < 40").select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat("text", F.lit(" y")).alias("text"),
            )
        ),
        bits=120,
    )
    kept = {
        r.doc_id
        for r in hamming_filter_wide(new_sigs, index_sigs, max_hamming=4).collect()
    }
    both = new_sigs.unionByName(index_sigs)
    pairs = hamming_pairs_wide(both, max_hamming=4, max_bucket_size=None)
    idx_ids = {r.doc_id for r in index_sigs.select("doc_id").collect()}
    new_ids = {r.doc_id for r in new_sigs.select("doc_id").collect()}
    matched = set()
    for r in pairs.collect():
        if r.id_a in new_ids and r.id_b in idx_ids:
            matched.add(r.id_a)
        if r.id_b in new_ids and r.id_a in idx_ids:
            matched.add(r.id_b)
    assert kept == new_ids - matched
    assert matched  # planted near-dups actually screened


def test_hamming_filter_wide_validation(spark):
    import pytest as _pytest

    from aqueducts_spark.operators.dedup import hamming_filter_wide

    df = spark.createDataFrame([(1, [1, 2])], "doc_id long, simhash array<long>")
    with _pytest.raises(ValueError, match="61..120"):
        hamming_filter_wide(df, df, sig_bits=60)
    short = spark.createDataFrame([(1, [1])], "doc_id long, simhash array<long>")
    with _pytest.raises(Exception, match="covering 120 bits"):
        hamming_filter_wide(short, df).collect()


# ---------------------------------------------------------------------------
# width equivalence: each narrow function is the one-element wide case
# ---------------------------------------------------------------------------


def _width_frame(spark):
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    rows, nid = [], 0
    for _ in range(6):
        base = [rng.choice(vocab) for _ in range(14)]
        for edits in range(4):
            doc = list(base)
            for _ in range(edits):
                doc[rng.randrange(len(doc))] = rng.choice(vocab)
            rows.append((nid, " ".join(doc)))
            nid += 1
    rows += [
        (None, "a document without an id"),
        (None, rows[0][1]),
        (100, None),
        (101, ""),
        (102, "   "),
        (103, "\t \n"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_narrow_functions_are_the_one_element_wide_case(spark, hash_fn):
    from aqueducts_spark.operators.dedup import (
        hamming_filter,
        hamming_filter_wide,
        hamming_pairs_wide,
        simhash_wide,
    )

    docs = _width_frame(spark)
    narrow = simhash(docs, bits=60, hash_fn=hash_fn).cache()
    wide = simhash_wide(docs, bits=120, hash_fn=hash_fn)
    first = wide.select("doc_id", F.element_at("simhash", 1).alias("simhash"))
    assert sorted(map(tuple, first.collect()), key=repr) == sorted(
        map(tuple, narrow.collect()), key=repr
    )

    lifted = narrow.select(
        "doc_id", F.array("simhash", F.lit(0).cast("long")).alias("simhash")
    )
    ided = narrow.where(F.col("doc_id").isNotNull())
    pairs = hamming_pairs(ided, max_hamming=6, max_bucket_size=None).collect()
    pairs_wide = hamming_pairs_wide(
        lifted.where(F.col("doc_id").isNotNull()),
        max_hamming=6, sig_bits=61, max_bucket_size=None,
    ).collect()
    assert {tuple(r) for r in pairs} == {tuple(r) for r in pairs_wide}
    assert any(r.hamming > 0 for r in pairs)  # near, not only exact, pairs

    idx = narrow.where(F.col("doc_id") % 4 == 0).select("simhash")
    idx_wide = lifted.where(F.col("doc_id") % 4 == 0).select("simhash")
    kept = hamming_filter(narrow, idx, max_hamming=8).collect()
    kept_wide = hamming_filter_wide(
        lifted, idx_wide, max_hamming=8, sig_bits=61
    ).collect()
    assert sorted((r.doc_id for r in kept), key=repr) == sorted(
        (r.doc_id for r in kept_wide), key=repr
    )
    assert 0 < len(kept) < docs.count()
    narrow.unpersist()
