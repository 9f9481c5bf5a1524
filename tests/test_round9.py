"""Round-9 additions: PSL registered domain (VERDICT r8 item 6),
de-drivered streaming replay fixtures (item 4), location-independent
worker imports (item 5), float-WAV decode (item 7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbkit_spark.functions.psl import (
    PSL_ICANN_SNAPSHOT,
    PSL_PRIVATE_SNAPSHOT,
    parse_rules,
    psl_registered_domain,
)
from dbkit_spark.plans.explain_utils import formatted_plan, join_strategies

# (host, expected registered domain) — one case per rule class:
# multi-label ICANN suffixes, wildcard, exception, private section,
# implicit-* default, bare-suffix hosts (NULL).
PSL_CASES = [
    ("a.b.ac.uk", "b.ac.uk"),
    ("x.com.au", "x.com.au"),
    ("deep.x.com.au", "x.com.au"),
    ("x.gob.mx", "x.gob.mx"),
    ("s.k12.tr", "s.k12.tr"),
    ("foo.ck", None),  # wildcard *.ck: foo.ck IS a public suffix
    ("x.foo.ck", "x.foo.ck"),
    ("www.ck", "www.ck"),  # exception !www.ck
    ("sub.www.ck", "www.ck"),
    ("city.kawasaki.jp", "city.kawasaki.jp"),  # !city.kawasaki.jp
    ("foo.city.kawasaki.jp", "city.kawasaki.jp"),
    ("bar.kawasaki.jp", None),  # *.kawasaki.jp
    ("x.bar.kawasaki.jp", "x.bar.kawasaki.jp"),
    ("alice.github.io", "alice.github.io"),  # private section
    ("github.io", None),
    ("b.s3.amazonaws.com", "b.s3.amazonaws.com"),
    ("www.example.com", "example.com"),  # implicit * rule
    ("localhost", None),
    ("com", None),
    ("school.x.sch.uk", "school.x.sch.uk"),  # *.sch.uk
    ("x.sch.uk", None),
]


def _domains(spark, hosts, **kw):
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    rows = psl_registered_domain(df, "host", is_host=True, **kw).collect()
    return {r["host"]: r["domain"] for r in rows}


def test_psl_rule_classes(spark):
    got = _domains(spark, [h for h, _ in PSL_CASES])
    for host, want in PSL_CASES:
        assert got[host] == want, (host, got[host], want)


def test_psl_private_section_toggle(spark):
    # ICANN-only: github.io is just a .io site, not a suffix.
    got = _domains(spark, ["alice.github.io", "github.io"], include_private=False)
    assert got["alice.github.io"] == "github.io"
    assert got["github.io"] == "github.io"


def test_psl_url_input_and_empty_host(spark):
    df = spark.createDataFrame(
        [("https://u:p@News.Site.CO.UK:8443/a?b#c",), ("not-a-url",), (None,)],
        "url string",
    )
    rows = psl_registered_domain(df, "url").collect()
    got = {r["url"]: r["domain"] for r in rows}
    assert got["https://u:p@News.Site.CO.UK:8443/a?b#c"] == "site.co.uk"
    assert got["not-a-url"] is None  # relative URL -> '' host -> NULL
    assert got[None] is None


def test_psl_accepts_raw_psl_file_format(spark):
    # The full public_suffix_list.dat drops in verbatim: comments and
    # blanks skipped, all three rule syntaxes parsed.
    raw = [
        "// ===BEGIN ICANN DOMAINS===",
        "",
        "uk",
        "co.uk",
        "*.sch.uk",
        "!open.sch.uk",
        "// ===END===",
    ]
    parsed = {k: (n, e, w) for k, n, e, w in parse_rules(raw)}
    assert parsed["co.uk"] == (2, False, False)
    assert parsed["*.sch.uk"] == (3, False, True)
    assert parsed["open.sch.uk"] == (3, True, False)
    got = _domains(
        spark, ["a.co.uk", "x.y.sch.uk", "open.sch.uk", "q.open.sch.uk"], rules=raw
    )
    assert got["a.co.uk"] == "a.co.uk"
    assert got["x.y.sch.uk"] == "x.y.sch.uk"
    assert got["open.sch.uk"] == "open.sch.uk"
    assert got["q.open.sch.uk"] == "open.sch.uk"


def test_psl_snapshot_well_formed():
    rules = parse_rules(PSL_ICANN_SNAPSHOT + PSL_PRIVATE_SNAPSHOT)
    keys = [k for k, _, _, _ in rules]
    assert len(keys) == len(set(keys)), "duplicate rule keys"
    # every wildcard family ships with its parent semantics intact and
    # every exception has a matching wildcard to except from
    wilds = {k for k, _, _, w in rules if w}
    for k, _n, exc, _w in rules:
        if exc:
            parent = "*." + k.split(".", 1)[1]
            assert parent in wilds, f"exception {k} without wildcard {parent}"


def test_psl_plan_is_broadcast_only_no_shuffle(spark):
    """The scale contract: D exact + D-1 wildcard BROADCAST joins and
    zero exchanges — the lookup must stay a map-only pipeline."""
    df = spark.range(100).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".co.uk")).alias("host")
    )
    out = psl_registered_domain(df, "host", is_host=True)
    strategies = join_strategies(out)
    assert strategies, "expected broadcast joins in plan"
    assert all("Broadcast" in s for s in strategies), strategies
    plan = formatted_plan(out)
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan


def test_q315_heuristic_disagreement_is_visible(spark):
    """The anchor's agree column must actually expose heuristic
    mis-keys (github.io, gob.mx tenants) — if the PSL and the heuristic
    always agreed the operator would be dead weight."""
    from dbkit_spark.catalog import load_all

    fn = load_all()["q315_psl_domain"].fn
    out = fn(spark, "/root/testdata/sf0.001")
    counts = dict(out.groupBy("agree").count().collect())
    assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0, counts


def test_streaming_replay_fixtures_have_no_topandas():
    """VERDICT r8 item 4 stays closed: no data-sized driver
    materialization in any query function — the only allowed toPandas
    calls live outside the queries package (none today)."""
    from pathlib import Path

    qdir = Path(__file__).resolve().parent.parent / "dbkit_spark" / "queries"
    offenders = [
        p.name for p in qdir.glob("*.py") if "toPandas" in p.read_text()
    ]
    assert offenders == [], offenders


def test_worker_imports_are_cwd_independent(spark):
    """VERDICT r8 item 5: a mapInPandas closure importing the in-repo
    package must resolve on workers via spark.executorEnv.PYTHONPATH,
    not via the driver's cwd."""
    import os

    conf_val = spark.conf.get("spark.executorEnv.PYTHONPATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert conf_val is not None and repo in conf_val

    def probe(batches):
        import dbkit_spark.llm.jpeg  # the worker-side import that used to fail

        for b in batches:
            yield b.assign(ok=True)[["id", "ok"]]

    out = spark.range(4).mapInPandas(probe, "id long, ok boolean").collect()
    assert all(r["ok"] for r in out)


# --- IEEE-float WAV (format 3) decode -------------------------------------


def test_float_wav_roundtrip_both_widths():
    from dbkit_spark.llm.audio import decode_wav, encode_wav_float, synth_samples

    for bits in (32, 64):
        payload = encode_wav_float(600, sample_rate=8000, seed=42, bits=bits)
        rate, ch, got_bits, samples = decode_wav(payload)
        assert (rate, ch, got_bits) == (8000, 1, bits)
        assert samples.shape == (600, 1)
        import numpy as np

        assert np.array_equal(samples.ravel(), synth_samples(42, 600))


def test_float_wav_stereo_and_clipping():
    import struct

    import numpy as np

    from dbkit_spark.llm.audio import decode_wav, encode_wav_float

    rate, ch, bits, samples = decode_wav(
        encode_wav_float(300, channels=2, seed=7, bits=32)
    )
    assert (ch, samples.shape) == (2, (300, 2))
    # out-of-range float samples clip to int32, never wrap
    x = np.array([4.0e5, -4.0e5], dtype="<f4")  # * 2^15 overflows int32
    fmt = struct.pack("<HHIIHHH", 3, 1, 8000, 32000, 4, 32, 0)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 8) + x.tobytes()
    )
    _, _, _, s = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert s.ravel().tolist() == [2**31 - 1, -(2**31)]


def test_non_float_non_pcm_still_degrades():
    import struct

    import pytest as _pytest

    from dbkit_spark.llm.audio import decode_wav, encode_wav

    payload = bytearray(encode_wav(100))
    i = payload.index(b"fmt ") + 8
    payload[i:i + 2] = struct.pack("<H", 2)  # ADPCM
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(payload))


def test_wav_payload_arms_decode_to_identical_waveform(spark):
    """All three fmt arms carry the same waveform: grouping stats by
    everything except bits must collapse to one row per doc."""
    from dbkit_spark.llm.audio import audio_stats, with_wav_payload

    docs = spark.range(0, 90, 5).select(F.col("id").alias("doc_id"))
    out = audio_stats(with_wav_payload(docs, "doc_id", every=5))
    rows = out.collect()
    assert all(r["decoded"] for r in rows)
    assert sorted({r["bits"] for r in rows}) == [16, 32, 64]
    # doc_ids 0,15,30,... are PCM16; 5,50,35,... float32; 10,25,40 float64
    for r in rows:
        assert r["bits"] == {0: 16, 1: 32, 2: 64}[r["doc_id"] % 3]


# --- real image resize ------------------------------------------------------


def test_resize_image_box_means_and_crop():
    import numpy as np

    from dbkit_spark.llm.multimodal import (
        decode_image_pixels,
        encode_ppm,
        resize_image,
    )

    # odd width: 11 -> out width 5, last column cropped
    fmt, ow, oh, out = resize_image(encode_ppm(11, 10, seed=3), 2)
    assert (fmt, ow, oh) == ("ppm", 5, 5)
    _, w2, h2, ch2, raw = decode_image_pixels(out)
    assert (w2, h2, ch2) == (5, 5, 3)
    px = np.frombuffer(raw, dtype=np.uint8).reshape(5, 5, 3)
    # replay one block by hand: output pixel (0,0) = floor(mean of 2x2)
    def src(x, y):
        v = (3 + 31 * x + 17 * y) % 256
        return (v, (v * 7) % 256, (v * 13) % 256)

    for c in range(3):
        s = sum(src(x, y)[c] for x in (0, 1) for y in (0, 1))
        assert px[0, 0, c] == s // 4


def test_resize_image_factor1_identity_and_degrade(spark):
    import numpy as np

    from dbkit_spark.llm.multimodal import (
        decode_image_pixels,
        encode_bmp,
        resize_image,
        resize_image_payloads,
    )

    # factor 1 = lossless container transcode (BMP -> PPM, same pixels)
    payload = encode_bmp(8, 6, seed=9)
    _, w0, h0, ch0, raw0 = decode_image_pixels(payload)
    fmt, ow, oh, out = resize_image(payload, 1)
    _, w1, h1, ch1, raw1 = decode_image_pixels(out)
    assert (fmt, ow, oh, w1, h1) == ("bmp", 8, 6, 8, 6)
    a = np.frombuffer(raw0, dtype=np.uint8).reshape(h0, w0, ch0)
    b = np.frombuffer(raw1, dtype=np.uint8).reshape(h1, w1, ch1)
    assert np.array_equal(a[:, :, :3], b)
    # undecodable payload degrades, never raises
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"garbage"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in resize_image_payloads(df, 2).collect()}
    assert rows[1]["decoded"] and rows[1]["payload"] is not None
    assert not rows[2]["decoded"] and rows[2]["payload"] is None


# --- audio resample ---------------------------------------------------------


def test_resample_wav_block_means_all_arms():
    import numpy as np

    from dbkit_spark.llm.audio import (
        decode_wav,
        encode_wav,
        encode_wav_float,
        resample_wav,
        synth_samples,
    )

    want = synth_samples(5, 160).astype(np.int64)
    expect = np.floor(want.reshape(40, 4).sum(axis=1) / 4).astype(np.int64)
    for payload in (
        encode_wav(160, seed=5, bits=16),
        encode_wav(160, seed=5, bits=24),
        encode_wav_float(160, seed=5, bits=32),
        encode_wav_float(160, seed=5, bits=64),
    ):
        rate, ch, bits, samples = decode_wav(resample_wav(payload, 4))
        assert (rate, ch, bits) == (2000, 1, 16)
        got = samples.ravel().astype(np.int64)
        assert np.array_equal(got, expect), bits


def test_resample_wav_stereo_and_trailing_drop():
    import numpy as np

    from dbkit_spark.llm.audio import decode_wav, encode_wav, resample_wav

    # 30 frames stereo, factor 4 -> 7 frames, 2 trailing frames dropped
    payload = encode_wav(30, channels=2, seed=1, bits=16)
    rate, ch, bits, s = decode_wav(resample_wav(payload, 4))
    assert (ch, s.shape[0]) == (2, 7)
    _, _, _, src = decode_wav(payload)
    blocks = src[:28].astype(np.int64).reshape(7, 4, 2).sum(axis=1)
    assert np.array_equal(
        s.astype(np.int64), np.floor(blocks / 4).astype(np.int64)
    )


# --- distributed BPE encode -------------------------------------------------


def test_bpe_encode_matches_pure_python_segmenter(spark):
    import re

    from dbkit_spark.llm.bpe import bpe_encode, bpe_segment, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the bat and the cat chat"),
            (3, "mats and bats and cats"),
            (4, "THE Mat! the mat?"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    merges, _ = bpe_train(docs, "text", n_merges=10)
    assert merges  # fixture must actually learn something
    out = {r["doc_id"]: r for r in bpe_encode(docs, "doc_id", "text", merges).collect()}
    for did, text in [(1, "the cat sat on the mat"), (4, "THE Mat! the mat?")]:
        words = [
            re.sub(r"[^a-z0-9]", "", w) for w in re.split(r"\s+", text.lower())
        ]
        words = [w for w in words if w]
        toks = [t for w in words for t in bpe_segment(w, merges)]
        assert out[did]["n_tokens"] == len(toks)
        assert out[did]["n_unique_tokens"] == len(set(toks))
        assert out[did]["n_words"] == len(words)
    assert out[5]["n_tokens"] == 0 and out[5]["compression"] == 0.0


# --- XML source -------------------------------------------------------------


def test_read_xml_roundtrip_with_escaping(spark, tmp_path):
    from pyspark.sql import types as T

    from dbkit_spark.sources import read_xml

    df = spark.createDataFrame(
        [(1, "a <b> & 'c' \"d\""), (2, None), (3, "plain")],
        "id long, txt string",
    )
    path = str(tmp_path / "xml_out")
    df.write.format("xml").option("rootTag", "rows").option("rowTag", "r").save(path)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("txt", T.StringType())]
    )
    back = {r["id"]: r["txt"] for r in read_xml(spark, path, "r", schema).collect()}
    assert back == {1: "a <b> & 'c' \"d\"", 2: None, 3: "plain"}


# --- Mann-Whitney / permutation / BH / Markov / CDC / modularity ------------


def test_mann_whitney_hand_computed(spark):
    import math

    from dbkit_spark.operators.mlmetrics import mann_whitney_u

    # pooled: 1(a) 2 2 2(a a b) 3(b) -> avg rank of the 2s = 3
    # R_a = 1 + 3 + 3 = 7, U = 7 - 6 = 1, tie term = 3^3-3 = 24
    # sigma^2 = (3*2/12) * (6 - 24/20) = 2.4, z = -2/sqrt(2.4)
    df = spark.createDataFrame(
        [("s", "a", 1), ("s", "a", 2), ("s", "a", 2), ("s", "b", 2), ("s", "b", 3)],
        "seg string, g string, v long",
    )
    r = mann_whitney_u(df, "seg", "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert r["u_stat"] == 1.0
    assert abs(r["z"] - (-2 / math.sqrt(2.4))) < 1e-12


def test_markov_transitions_hand_computed(spark):
    from dbkit_spark.operators.sequence import markov_transitions

    df = spark.createDataFrame(
        [(1, 1, "A"), (1, 2, "B"), (1, 3, "A"), (2, 1, "B"), (2, 2, "B")],
        "k long, t long, s string",
    )
    rows = {
        (r["state"], r["next_state"]): r
        for r in markov_transitions(df, "k", ["t"], "s", alpha=0.5).collect()
    }
    assert set(rows) == {("A", "B"), ("B", "A"), ("B", "B")}
    assert rows[("A", "B")]["n"] == 1 and rows[("A", "B")]["p"] == 1.5 / 2.0
    assert rows[("B", "A")]["p"] == 1.5 / 3.0
    assert rows[("B", "B")]["p"] == 1.5 / 3.0


def test_cdc_apply_latest_wins_and_churn(spark):
    from dbkit_spark.operators.cdc import cdc_apply

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0)],
        "k long, val double",
    )
    log = spark.createDataFrame(
        [
            (2, -1.0, "I", 1),   # superseded by the v2 update
            (2, 200.0, "U", 2),
            (3, None, "D", 1),   # base delete
            (4, 400.0, "U", 1),  # update-then-delete churn: gone
            (4, None, "D", 2),
            (6, 60.0, "I", 1),   # fresh insert
        ],
        "k long, val double, op string, version long",
    )
    got = {
        r["k"]: r["val"]
        for r in cdc_apply(base, log, ["k"]).collect()
    }
    assert got == {1: 10.0, 2: 200.0, 5: 50.0, 6: 60.0}


def test_unigram_train_matches_reference_exactly(spark):
    import re

    from dbkit_spark.llm.unigram import (
        unigram_train,
        unigram_train_reference,
    )

    texts = [
        "the hopper hopped the hedge",
        "the hedge hog hopped over",
        "hedge hopping hoppers hop",
        "over the hedge and over the top",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    kw = dict(target_vocab=30, seed_size=100, max_piece_len=5, n_rounds=3)
    dist = unigram_train(df, "text", **kw)

    wc: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"\s+", t.lower().strip()):
            w = re.sub(r"[^a-z0-9]", "", w)
            if w:
                wc[w] = wc.get(w, 0) + 1
    ref = unigram_train_reference(wc, **kw)
    assert dist == ref  # piece, count AND logp — bit-for-bit


def test_unigram_segment_prefers_learned_pieces():
    import math

    from dbkit_spark.llm.unigram import unigram_segment

    scores = {
        "h": math.log(0.1), "o": math.log(0.1), "p": math.log(0.1),
        "hop": math.log(0.3),
    }
    assert unigram_segment("hophop", scores, 5) == ["hop", "hop"]
    # unknown chars fall back to per-char split via the char floor
    assert unigram_segment("pho", scores, 5) == ["p", "h", "o"]


def test_permutation_test_deterministic_and_bounded(spark):
    from dbkit_spark.operators.mlmetrics import permutation_test

    df = spark.createDataFrame(
        [("s", i, "a" if i % 2 == 0 else "b", float(i % 7)) for i in range(40)],
        "seg string, unit long, g string, x double",
    )
    a = permutation_test(df, "seg", "unit", "g", "x", "a", "b", n_perms=20)
    r1 = sorted(tuple(r) for r in a.collect())
    r2 = sorted(
        tuple(r)
        for r in permutation_test(
            df, "seg", "unit", "g", "x", "a", "b", n_perms=20
        ).collect()
    )
    assert r1 == r2  # md5 relabeling: replayable, no rng
    row = dict(zip(a.columns, r1[0]))
    assert row["n_perms"] == 20
    assert 0.0 < row["p_value"] <= 1.0
    assert row["n_extreme"] <= 20


def test_bh_adjust_hand_computed(spark):
    from dbkit_spark.operators.mlmetrics import bh_adjust

    df = spark.createDataFrame(
        [("f", "t1", 0.01), ("f", "t2", 0.04), ("f", "t3", 0.03),
         ("f", "t4", 0.05), ("f", "t5", 0.20)],
        "fam string, test string, p double",
    )
    got = {
        r["test"]: round(r["adj_p"], 10)
        for r in bh_adjust(df, "fam", "test", "p").collect()
    }
    assert got == {
        "t1": 0.05,
        "t2": 0.0625,
        "t3": 0.0625,
        "t4": 0.0625,
        "t5": 0.2,
    }


def test_modularity_two_triangles(spark):
    from dbkit_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "a long, b long",
    )
    comms = spark.createDataFrame(
        [(n, "x" if n <= 3 else "y") for n in range(1, 7)],
        "node long, community string",
    )
    rows = {
        r["community"]: r
        for r in modularity(edges, comms, "node", "community").collect()
    }
    for c in ("x", "y"):
        assert rows[c]["n_nodes"] == 3
        assert rows[c]["intra_edges"] == 3
        assert rows[c]["degree_sum"] == 7
        assert abs(rows[c]["q_contrib"] - (3 / 7 - 0.25)) < 1e-12
    assert abs(sum(r["q_contrib"] for r in rows.values()) - 2 * (3 / 7 - 0.25)) < 1e-12


def test_neyman_sample_allocation_contracts(spark):
    from dbkit_spark.llm.sampling import neyman_sample

    rows = (
        [(i, "A", float(10 * i)) for i in range(4)]        # sd > 0
        + [(10 + i, "B", 5.0) for i in range(4)]           # sd == 0
        + [(99, "C", 100.0)]                               # single row
    )
    df = spark.createDataFrame(rows, "id long, s string, v double")

    # all weight sits on A: zero-variance / single-row strata get no
    # base seats (and no remainder seats while leftover is 0)
    got = neyman_sample(df, "id", "s", "v", total_n=3).collect()
    assert len(got) == 3 and all(r["s"] == "A" for r in got)

    # determinism: same picks on a rerun (salted md5, no rng)
    again = neyman_sample(df, "id", "s", "v", total_n=3).collect()
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in again)

    # oversubscription clips at the stratum population
    clipped = neyman_sample(df, "id", "s", "v", total_n=6).collect()
    assert len(clipped) == 4 and all(r["s"] == "A" for r in clipped)


def test_kruskal_wallis_hand_computed(spark):
    from dbkit_spark.operators.mlmetrics import kruskal_wallis

    # pooled: 1(r1) 2 2(avg 2.5) 3 3 3(avg 5); R = 3.5 / 7.5 / 10
    # H = 12/42 * (3.5^2/2 + 7.5^2/2 + 10^2/2) - 21 = 3.0714285714
    # ties: (2^3-2) + (3^3-3) = 30; corr = 1 - 30/210 = 6/7
    df = spark.createDataFrame(
        [
            ("s", "g1", 1), ("s", "g1", 2),
            ("s", "g2", 2), ("s", "g2", 3),
            ("s", "g3", 3), ("s", "g3", 3),
        ],
        "seg string, g string, v long",
    )
    r = kruskal_wallis(df, "seg", "g", "v").collect()[0]
    assert (r["k_groups"], r["n_total"]) == (3, 6)
    assert r["h_stat"] == 3.071429
    assert r["h_tie_corrected"] == 3.583333


def test_mcnemar_hand_computed(spark):
    from dbkit_spark.operators.mlmetrics import mcnemar_test

    df = spark.createDataFrame(
        [
            ("s", True, True), ("s", True, False), ("s", True, False),
            ("s", False, True), ("s", False, False),
            # all-concordant segment: both chi2 forms must be 0, not null
            ("t", True, True), ("t", False, False),
        ],
        "seg string, a_ok boolean, b_ok boolean",
    )
    out = {r["seg"]: r for r in mcnemar_test(df, "seg", "a_ok", "b_ok").collect()}
    s = out["s"]
    assert (s["n_items"], s["n_a_only"], s["n_b_only"]) == (5, 2, 1)
    assert s["chi2"] == 1 / 3  # (2-1)^2 / 3, exact IEEE
    assert s["chi2_cc"] == 0.0  # (|1|-1)^2 / 3
    t = out["t"]
    assert (t["n_a_only"], t["n_b_only"], t["chi2"], t["chi2_cc"]) == (0, 0, 0.0, 0.0)


def test_average_precision_hand_computed(spark):
    from dbkit_spark.operators.mlmetrics import average_precision

    # thresholds desc: s=3 (1 pos) -> P=1; s=2 (+1 pos,+1 neg) -> P=2/3;
    # s=1 (+1 pos,+1 neg) -> P=3/5. AP = (1 + 2/3 + 3/5)/3 = 34/45
    # best F1: max over t of 2*cumTP/(cumTot+3) = 6/8 = 0.75
    df = spark.createDataFrame(
        [
            ("s", 1, 3), ("s", 1, 2), ("s", 0, 2), ("s", 0, 1), ("s", 1, 1),
        ],
        "seg string, label int, score long",
    )
    r = average_precision(df, "seg", "label", "score").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (3, 2)
    assert r["avg_precision"] == round(34 / 45, 6)
    assert r["best_f1"] == 0.75


def test_degree_assortativity_star_and_cycle(spark):
    from dbkit_spark.operators.graph import degree_assortativity

    # star K_{1,3}: every edge pairs deg 3 with deg 1 -> r = -1 exactly
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a long, b long"
    )
    r = degree_assortativity(star).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["max_degree"]) == (4, 3, 3)
    assert r["assortativity"] == -1.0
    # cycle: all degrees equal -> Pearson denominator 0 -> 0.0 by contract
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "a long, b long"
    )
    r = degree_assortativity(cyc).collect()[0]
    assert r["assortativity"] == 0.0


def test_infer_formats_class_per_value(spark):
    from dbkit_spark.operators.profile import infer_formats

    vals = [
        ("true", "bool"),
        ("-42", "integer"),
        ("3.14", "decimal"),
        ("2024-01-31", "date_iso"),
        ("2024-01-31T10:00:00", "timestamp_iso"),
        ("123e4567-e89b-12d3-a456-426614174000", "uuid"),
        ("a.b@ex.co", "email"),
        ("https://x.io/p", "url"),
        ('{"k": 1}', "json_object"),
        ("", "empty"),
        (None, "null"),
        ("free text", "other"),
    ]
    df = spark.createDataFrame([(v,) for v, _ in vals], "c string")
    out = infer_formats(df, ["c"]).collect()
    got = {r["fmt"]: r["n"] for r in out}
    assert got == {fmt: 1 for _, fmt in vals}
    assert all(r["col_name"] == "c" for r in out)
    assert abs(sum(r["frac"] for r in out) - 1.0) < 1e-12


def test_ipv4_long_roundtrip(spark):
    from dbkit_spark.functions.net import ipv4_to_long, long_to_ipv4

    ips = ["0.0.0.0", "10.1.2.3", "192.168.255.1", "255.255.255.255"]
    df = spark.createDataFrame([(s,) for s in ips], "s string")
    rows = df.select(
        "s", long_to_ipv4(ipv4_to_long(F.col("s"))).alias("back")
    ).collect()
    assert all(r["s"] == r["back"] for r in rows)
    v = df.select(ipv4_to_long(F.col("s")).alias("v")).collect()
    assert [r["v"] for r in v] == [0, 167838211, 3232300801, 4294967295]


def test_cidr_enrich_longest_prefix_left_and_alignment(spark):
    from dbkit_spark.functions.net import cidr_enrich
    from dbkit_spark.plans.explain_utils import assert_no_nested_loop_join

    # /8 10.0.0.0 covering + /16 10.1.0.0 specific, base given UNALIGNED
    # (10.1.2.3/16 must normalize to 10.1.0.0); 192.* probe unmatched.
    blocks = spark.createDataFrame(
        [
            ("wide", 10 * 16777216, 8),
            ("spec", 10 * 16777216 + 65536 + 2 * 256 + 3, 16),
        ],
        "owner string, net long, plen int",
    )
    probes = spark.createDataFrame(
        [
            (1, 10 * 16777216 + 65536 + 77),   # in /16 AND /8 -> spec
            (2, 10 * 16777216 + 5),            # /8 only -> wide
            (3, 192 * 16777216),               # no match -> nulls
        ],
        "id long, ip long",
    )
    out = cidr_enrich(probes, "ip", "id", blocks, "net", "plen")
    assert_no_nested_loop_join(out)
    got = {r["id"]: (r["owner"], r["matched_plen"]) for r in out.collect()}
    assert got == {1: ("spec", 16), 2: ("wide", 8), 3: (None, None)}
    assert out.count() == 3  # exactly one row per probe

    # an explicit bucket_bits that would need >4096 buckets for the /8
    # block errors LOUDLY — blocks are never silently dropped
    with pytest.raises(ValueError, match="buckets per block"):
        cidr_enrich(
            probes, "ip", "id", blocks, "net", "plen", bucket_bits=24
        )


def test_cidr_enrich_default_route_never_dropped(spark):
    """A /0 default route next to fine routes must still enrich
    (auto-sizing buckets coarsely enough to expand it, not drop it)."""
    from dbkit_spark.functions.net import cidr_enrich

    blocks = spark.createDataFrame(
        [("default", 0, 0), ("spec", 10 * 16777216, 16)],
        "owner string, net long, plen int",
    )
    probes = spark.createDataFrame(
        [(1, 10 * 16777216 + 7), (2, 200 * 16777216)], "id long, ip long"
    )
    got = {
        r["id"]: (r["owner"], r["matched_plen"])
        for r in cidr_enrich(
            probes, "ip", "id", blocks, "net", "plen"
        ).collect()
    }
    assert got == {1: ("spec", 16), 2: ("default", 0)}


def test_vad_null_payload_degrades(spark):
    from dbkit_spark.llm.audio import audio_stats, vad_segments

    df = spark.createDataFrame(
        [(1, None), (2, bytearray(_pcm16_wav([0] * 8)))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in vad_segments(df, frame=4).collect()}
    assert not out[1]["decoded"] and out[2]["decoded"]
    stats = {r["doc_id"]: r for r in audio_stats(df).collect()}
    assert not stats[1]["decoded"] and stats[2]["decoded"]


def test_kruskal_and_ap_degenerate_segments_are_null(spark):
    from dbkit_spark.operators.mlmetrics import (
        average_precision,
        kruskal_wallis,
    )

    kw = spark.createDataFrame(
        [("one_row", "a", 5), ("all_tied", "a", 7), ("all_tied", "b", 7)],
        "seg string, g string, v long",
    )
    got = {r["seg"]: r for r in kruskal_wallis(kw, "seg", "g", "v").collect()}
    assert got["one_row"]["h_stat"] is None
    assert got["one_row"]["h_tie_corrected"] is None
    assert got["all_tied"]["h_tie_corrected"] is None  # corr = 0
    ap = spark.createDataFrame(
        [("no_pos", 0, 3), ("no_pos", 0, 1)], "seg string, label int, score long"
    )
    r = average_precision(ap, "seg", "label", "score").collect()[0]
    assert r["avg_precision"] is None and r["n_pos"] == 0


def test_infer_formats_rejects_bad_inputs(spark):
    from dbkit_spark.operators.profile import infer_formats

    df = spark.createDataFrame([("x",)], "c string")
    with pytest.raises(ValueError, match="non-empty"):
        infer_formats(df, [])
    with pytest.raises(ValueError, match="quote/backtick"):
        infer_formats(df, ["it's"])


def _pcm16_wav(samples):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_vad_segments_hand_computed(spark):
    from dbkit_spark.llm.audio import vad_segments

    # frame=4: [silent, loud, loud, silent, loud] + 2 trailing samples
    # (dropped) -> n_frames 5, active 3, segments 2, longest 2,
    # first_active 1, ratio 0.6
    samples = (
        [0] * 4 + [30000] * 8 + [0] * 4 + [30000] * 4 + [7, 7]
    )
    df = spark.createDataFrame(
        [(1, bytearray(_pcm16_wav(samples))), (2, bytearray(b"junk")),
         (3, bytearray(_pcm16_wav([0] * 8)))],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r
        for r in vad_segments(df, frame=4, threshold=358_000_000).collect()
    }
    r = out[1]
    assert (r["n_frames"], r["n_active"], r["n_segments"]) == (5, 3, 2)
    assert (r["longest_run"], r["first_active"]) == (2, 1)
    assert r["active_ratio"] == 0.6 and r["decoded"]
    assert not out[2]["decoded"] and out[2]["n_frames"] is None
    allsilent = out[3]
    assert (allsilent["n_active"], allsilent["n_segments"]) == (0, 0)
    assert allsilent["first_active"] is None


def test_image_gray_histogram_hand_computed(spark):
    from dbkit_spark.llm.multimodal import image_gray_histogram

    flat = b"P6\n2 2\n255\n" + bytes([10, 10, 10] * 4)
    two = b"P6\n2 1\n255\n" + bytes([0, 0, 0, 255, 255, 255])
    df = spark.createDataFrame(
        [(1, bytearray(flat)), (2, bytearray(two)), (3, bytearray(b"x"))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in image_gray_histogram(df).collect()}
    r = out[1]
    assert (r["n_px"], r["min_gray"], r["max_gray"]) == (4, 10, 10)
    assert r["n_bins_used"] == 1 and r["hist"][0] == 4
    r = out[2]
    assert (r["min_gray"], r["max_gray"], r["n_bins_used"]) == (0, 255, 2)
    assert r["hist"][0] == 1 and r["hist"][15] == 1
    assert not out[3]["decoded"]


def _final_plan(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_round9_batch2_exchange_budgets(spark):
    """Scale-shape gates for the q334-q341 operators: the documented
    exchange counts are ceilings — a regression that adds a shuffle
    fails here before it costs anything at scale."""
    import random
    import re

    from dbkit_spark.operators.mlmetrics import (
        average_precision,
        kruskal_wallis,
        mcnemar_test,
    )
    from dbkit_spark.operators.profile import infer_formats

    def exchanges(df):
        return len(re.findall(r"Exchange", _final_plan(df)))

    rnd = random.Random(7)
    kw = spark.createDataFrame(
        [
            ("s%d" % (i % 3), "g%d" % rnd.randrange(4), rnd.randrange(12))
            for i in range(300)
        ],
        "seg string, g string, v long",
    )
    # (seg,val,grp) agg + seg window + the downstream aggs/join reuse
    # the seg hash partitioning
    assert exchanges(kruskal_wallis(kw, "seg", "g", "v")) <= 4
    ap = spark.createDataFrame(
        [("s", 1, 3), ("s", 0, 2), ("t", 1, 1)],
        "seg string, label int, score long",
    )
    # (seg,score) agg + seg window; the final seg agg reuses the window
    # partitioning
    assert exchanges(average_precision(ap, "seg", "label", "score")) <= 2
    mc = spark.createDataFrame(
        [("s", True, False)], "seg string, a boolean, b boolean"
    )
    # the pairing is the row: ONE conditional agg, one exchange
    assert exchanges(mcnemar_test(mc, "seg", "a", "b")) <= 1
    inf = spark.createDataFrame([("a", "1")], "c1 string, c2 string")
    # stacked unpivot = one scan; (col,fmt) agg + col window
    assert exchanges(infer_formats(inf, ["c1", "c2"])) <= 2


def test_degree_assortativity_persists_shared_inputs(spark):
    """The edge set and degree table feed multiple branches; the
    full triangle_stats discipline (ADVICE r9) now applies: persist the
    shared inputs, EAGERLY localCheckpoint the metadata-sized output,
    then unpersist — so the edge corpus is scanned once per branch-set
    AND no cached partitions outlive the call. The returned plan is the
    checkpointed RDD scan; the storage-release half is asserted
    directly."""
    edges = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    from dbkit_spark.operators.graph import degree_assortativity

    jsc = spark.sparkContext._jsc.sc()

    def cached() -> int:
        return len(
            [i for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0]
        )

    out = degree_assortativity(edges)
    plan = _final_plan(out)
    # eager checkpoint: the result is materialized, not a live lineage
    assert "ExistingRDD" in plan
    assert out.collect()[0]["n_edges"] == 2
    # leak check: repeated calls must not accumulate the edge/degree
    # caches (the pre-fix behavior grew 2 cached RDDs per call); only
    # the 1-row checkpoint RDD of each live result may remain.
    base = cached()
    for _ in range(3):
        degree_assortativity(edges).collect()
    assert cached() - base <= 3  # checkpoint RDDs only, never inputs


def test_kruskal_wallis_matches_pure_python(spark):
    """Seeded randomized cross-check against an independent average-rank
    reference implementation."""
    import random
    from collections import Counter, defaultdict

    from dbkit_spark.operators.mlmetrics import kruskal_wallis

    def ref(rows):
        counts = Counter(v for _, v in rows)
        start, cum = {}, 0
        for v in sorted(counts):
            start[v] = cum
            cum += counts[v]
        avg_rank = {v: start[v] + (counts[v] + 1) / 2 for v in counts}
        groups = defaultdict(list)
        for g, v in rows:
            groups[g].append(avg_rank[v])
        n = len(rows)
        s = sum(sum(r) ** 2 / len(r) for r in groups.values())
        h = 12 / (n * (n + 1)) * s - 3 * (n + 1)
        tie = sum(c**3 - c for c in counts.values())
        return h, h / (1 - tie / (n**3 - n))

    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        rows = [
            ("g%d" % rnd.randrange(3), rnd.randrange(8)) for _ in range(200)
        ]
        df = spark.createDataFrame(
            [("s", g, v) for g, v in rows], "seg string, g string, v long"
        )
        got = kruskal_wallis(df, "seg", "g", "v").collect()[0]
        h, hc = ref(rows)
        assert abs(got["h_stat"] - h) < 2e-6, seed
        assert abs(got["h_tie_corrected"] - hc) < 2e-6, seed


def test_average_precision_matches_pure_python(spark):
    """Seeded randomized cross-check against an independent
    threshold-sweep reference."""
    import random
    from collections import defaultdict

    from dbkit_spark.operators.mlmetrics import average_precision

    def ref(rows):
        agg = defaultdict(lambda: [0, 0])
        for lab, s in rows:
            agg[s][0] += 1
            agg[s][1] += lab
        n_pos = sum(v[1] for v in agg.values())
        cum_t = cum_p = 0
        ap = best = 0.0
        for s in sorted(agg, reverse=True):
            cum_t += agg[s][0]
            cum_p += agg[s][1]
            ap += agg[s][1] * cum_p / cum_t
            best = max(best, 2 * cum_p / (cum_t + n_pos))
        return ap / n_pos, best

    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        rows = [(rnd.randrange(2), rnd.randrange(10)) for _ in range(200)]
        df = spark.createDataFrame(
            [("s", lab, s) for lab, s in rows],
            "seg string, label int, score long",
        )
        got = average_precision(df, "seg", "label", "score").collect()[0]
        ap, best = ref(rows)
        assert abs(got["avg_precision"] - ap) < 2e-6, seed
        assert got["best_f1"] == best, seed


def test_cidr_enrich_matches_brute_force(spark):
    """Seeded randomized cross-check: longest-prefix enrichment over
    random (possibly nested) blocks must match a brute-force python
    scan of every (probe, block) pair."""
    import random

    from dbkit_spark.functions.net import cidr_enrich

    for seed in (11, 12):
        rnd = random.Random(seed)
        blocks = []
        for i in range(40):
            plen = rnd.choice([10, 12, 16, 20, 24, 28])
            size = 1 << (32 - plen)
            net = rnd.randrange(0, 1 << 32)
            base = net - net % size
            blocks.append((f"b{i}", net, plen, base, size))
        probes = [(i, rnd.randrange(0, 1 << 32)) for i in range(300)]
        # force hits: aim half the probes inside random blocks
        for i in range(0, 300, 2):
            _, _, _, base, size = blocks[rnd.randrange(len(blocks))]
            probes[i] = (probes[i][0], base + rnd.randrange(size))

        def ref(ip):
            best = None
            for name, _net, plen, base, size in blocks:
                if base <= ip < base + size:
                    if best is None or plen > best[1] or (
                        plen == best[1] and base < best[2]
                    ):
                        best = (name, plen, base)
            return (best[0], best[1]) if best else (None, None)

        bdf = spark.createDataFrame(
            [(n, net, plen) for n, net, plen, _, _ in blocks],
            "owner string, net long, plen int",
        )
        pdf = spark.createDataFrame(probes, "id long, ip long")
        got = {
            r["id"]: (r["owner"], r["matched_plen"])
            for r in cidr_enrich(pdf, "ip", "id", bdf, "net", "plen").collect()
        }
        assert len(got) == 300, seed
        for pid, ip in probes:
            assert got[pid] == ref(ip), (seed, pid, ip, got[pid], ref(ip))


def test_cdc_apply_matches_brute_force(spark):
    """Seeded randomized cross-check: random I/U/D logs (multiple ops
    per key, version ties) applied over a random base must match a
    python dict replay of the documented semantics."""
    import random

    from dbkit_spark.operators.cdc import cdc_apply

    for seed in (21, 22, 23):
        rnd = random.Random(seed)
        base = [(k, rnd.randrange(100)) for k in rnd.sample(range(40), 25)]
        ops = []
        for _ in range(60):
            ops.append(
                (
                    rnd.randrange(40),
                    rnd.randrange(100),
                    rnd.choice("IUD"),
                    rnd.randrange(8),  # few versions -> ties happen
                )
            )

        # reference replay: latest version wins, ties break op desc
        # ('U' > 'I' > 'D' lexicographically matches the operator rule)
        best = {}
        for k, v, op, ver in ops:
            cur = best.get(k)
            if cur is None or (ver, op) > (cur[0], cur[1]):
                best[k] = (ver, op, v)
        expect = {}
        for k, v in base:
            expect[k] = v
        for k, (ver, op, v) in best.items():
            if op == "D":
                expect.pop(k, None)
            else:
                expect[k] = v

        bdf = spark.createDataFrame(base, "k long, val long")
        ldf = spark.createDataFrame(
            ops, "k long, val long, op string, version long"
        )
        got = {
            r["k"]: r["val"]
            for r in cdc_apply(bdf, ldf, ["k"]).collect()
        }
        assert got == expect, (seed, got, expect)


def test_markov_transitions_matches_brute_force(spark):
    """Seeded randomized cross-check vs a python pair-count replay,
    with and without Laplace smoothing."""
    import random
    from collections import Counter

    from dbkit_spark.operators.sequence import markov_transitions

    for seed, alpha in ((31, 0.0), (32, 0.5)):
        rnd = random.Random(seed)
        rows = []
        for u in range(20):
            for t in range(rnd.randrange(1, 12)):
                rows.append((u, t, rnd.choice("abcd")))
        pairs = Counter()
        seqs = {}
        for u, t, s in rows:
            seqs.setdefault(u, []).append((t, s))
        for u, seq in seqs.items():
            seq.sort()
            for (_, a), (_, b) in zip(seq, seq[1:]):
                pairs[(a, b)] += 1
        k = len({s for _, _, s in rows})
        row_n = Counter()
        for (a, _b), n in pairs.items():
            row_n[a] += n
        expect = {
            (a, b): (n, (n + alpha) / (row_n[a] + alpha * k))
            for (a, b), n in pairs.items()
        }

        df = spark.createDataFrame(rows, "u long, t long, s string")
        got = {
            (r["state"], r["next_state"]): (r["n"], r["p"])
            for r in markov_transitions(
                df, "u", ["t"], "s", alpha=alpha
            ).collect()
        }
        assert set(got) == set(expect), seed
        for key in expect:
            assert got[key][0] == expect[key][0], (seed, key)
            assert abs(got[key][1] - expect[key][1]) < 1e-12, (seed, key)


def test_fleiss_kappa_matches_brute_force(spark):
    """Seeded randomized cross-check vs a python Fleiss-1971 replay
    with unequal raters per item and the min_raters exclusion."""
    import random
    from collections import Counter

    from dbkit_spark.operators.agreement import fleiss_kappa

    for seed in (41, 42):
        rnd = random.Random(seed)
        rows = []
        for item in range(30):
            for r in range(rnd.randrange(1, 6)):  # incl. 1-rater items
                rows.append((item, f"r{r}", rnd.choice("xyz")))

        per_item = Counter()
        cells = Counter()
        for item, _r, lab in rows:
            per_item[item] += 1
            cells[(item, lab)] += 1
        kept = {i for i, n in per_item.items() if n >= 2}
        n_items = len(kept)
        n_ratings = sum(per_item[i] for i in kept)
        p_sum = 0.0
        for i in kept:
            ni = per_item[i]
            sq = sum(c * c for (it, _l), c in cells.items() if it == i)
            p_sum += (sq - ni) / (ni * (ni - 1))
        marg = Counter()
        for (it, lab), c in cells.items():
            if it in kept:
                marg[lab] += c
        pe = sum((c / n_ratings) ** 2 for c in marg.values())
        p_bar = p_sum / n_items
        kappa = (p_bar - pe) / (1 - pe)

        df = spark.createDataFrame(rows, "item long, rater string, lab string")
        got = fleiss_kappa(df, "item", "lab").collect()[0]
        assert (got["n_items"], got["n_ratings"]) == (n_items, n_ratings), seed
        assert abs(got["p_bar"] - p_bar) < 2e-9, seed
        assert abs(got["p_e"] - pe) < 2e-9, seed
        assert abs(got["kappa"] - kappa) < 2e-9, seed


def test_cohen_kappa_matches_brute_force(spark):
    """Seeded randomized cross-check vs a python Cohen-1960 replay
    (asymmetric marginals; only co-labeled items count)."""
    import random
    from collections import Counter

    from dbkit_spark.operators.agreement import cohen_kappa

    for seed in (51, 52):
        rnd = random.Random(seed)
        rows = []
        for item in range(60):
            if rnd.random() < 0.9:
                rows.append((item, "a", rnd.choice("pqr")))
            if rnd.random() < 0.9:
                rows.append((item, "b", rnd.choice("pqr")))
        la = {i: lab for i, r, lab in rows if r == "a"}
        lb = {i: lab for i, r, lab in rows if r == "b"}
        both = sorted(set(la) & set(lb))
        n = len(both)
        po = sum(la[i] == lb[i] for i in both) / n
        ma, mb = Counter(la[i] for i in both), Counter(lb[i] for i in both)
        pe = sum(ma[c] * mb[c] for c in set(ma) | set(mb)) / (n * n)
        kappa = (po - pe) / (1 - pe)

        df = spark.createDataFrame(rows, "item long, rater string, lab string")
        got = cohen_kappa(df, "item", "rater", "lab", "a", "b").collect()[0]
        assert got["n_items"] == n, seed
        assert abs(got["po"] - po) < 2e-9, seed
        assert abs(got["pe"] - pe) < 2e-9, seed
        assert abs(got["kappa"] - kappa) < 2e-9, seed


def test_bh_adjust_matches_brute_force(spark):
    """Seeded randomized cross-check vs a python reversed-running-min
    Benjamini-Hochberg replay, duplicate p-values included."""
    import random

    from dbkit_spark.operators.mlmetrics import bh_adjust

    for seed in (61, 62):
        rnd = random.Random(seed)
        ps = [round(rnd.random(), 2) for _ in range(25)]  # dup-heavy
        rows = [(f"t{i:02d}", p) for i, p in enumerate(ps)]
        m = len(rows)
        order = sorted(range(m), key=lambda i: (rows[i][1], rows[i][0]))
        raw = [rows[i][1] * m / (rank + 1) for rank, i in enumerate(order)]
        adj = raw[:]
        for j in range(m - 2, -1, -1):
            adj[j] = min(adj[j], adj[j + 1])
        expect = {rows[i][0]: min(a, 1.0) for i, a in zip(order, adj)}

        df = spark.createDataFrame(
            [("f", t, p) for t, p in rows], "fam string, test string, p double"
        )
        got = {
            r["test"]: r["adj_p"]
            for r in bh_adjust(df, "fam", "test", "p").collect()
        }
        for t in expect:
            assert abs(got[t] - expect[t]) < 1e-12, (seed, t)


def test_mann_whitney_matches_brute_force(spark):
    """Seeded randomized cross-check vs a python average-rank replay
    (tie-corrected sigma)."""
    import math
    import random
    from collections import Counter

    from dbkit_spark.operators.mlmetrics import mann_whitney_u

    for seed in (71, 72):
        rnd = random.Random(seed)
        rows = [
            (rnd.choice("ab"), rnd.randrange(10)) for _ in range(150)
        ]
        counts = Counter(v for _, v in rows)
        start, cum = {}, 0
        for v in sorted(counts):
            start[v] = cum
            cum += counts[v]
        avg_rank = {v: start[v] + (counts[v] + 1) / 2 for v in counts}
        ra = sum(avg_rank[v] for g, v in rows if g == "a")
        n_a = sum(1 for g, _ in rows if g == "a")
        n_b = len(rows) - n_a
        u = ra - n_a * (n_a + 1) / 2
        n = n_a + n_b
        tie = sum(c**3 - c for c in counts.values())
        sigma2 = n_a * n_b / 12 * ((n + 1) - tie / (n * (n - 1)))
        z = (u - n_a * n_b / 2) / math.sqrt(sigma2)

        df = spark.createDataFrame(
            [("s", g, v) for g, v in rows], "seg string, g string, v long"
        )
        got = mann_whitney_u(df, "seg", "g", "v", "a", "b").collect()[0]
        assert (got["n_a"], got["n_b"]) == (n_a, n_b), seed
        assert got["u_stat"] == u, seed
        assert abs(got["z"] - z) < 1e-12, seed


def test_modularity_matches_brute_force(spark):
    """Seeded randomized cross-check: per-community q_contrib and total
    Q vs a python replay over a random graph and random partition."""
    import random
    from collections import Counter

    from dbkit_spark.operators.graph import canonical_edges, modularity

    for seed in (81, 82):
        rnd = random.Random(seed)
        raw = {(a, b) for a, b in (
            tuple(sorted((rnd.randrange(30), rnd.randrange(30))))
            for _ in range(120)
        ) if a != b}
        comm = {n: n % 4 for n in {x for e in raw for x in e}}
        m = len(raw)
        intra = Counter()
        dsum = Counter()
        for a, b in raw:
            dsum[comm[a]] += 1
            dsum[comm[b]] += 1
            if comm[a] == comm[b]:
                intra[comm[a]] += 1
        expect = {
            c: intra[c] / m - (dsum[c] / (2 * m)) ** 2 for c in set(comm.values())
        }

        edges = canonical_edges(
            spark.createDataFrame(sorted(raw), "x long, y long"), "x", "y"
        )
        cdf = spark.createDataFrame(
            sorted(comm.items()), "node long, community long"
        )
        got = {
            r["community"]: r["q_contrib"]
            for r in modularity(edges, cdf, "node", "community").collect()
        }
        assert set(got) == set(expect), seed
        for c in expect:
            assert abs(got[c] - expect[c]) < 1e-12, (seed, c)


def test_classification_report_matches_brute_force(spark):
    """Seeded randomized cross-check of per-class P/R/F1 + macro/micro
    vs a python confusion replay (sklearn zero-division convention)."""
    import random
    from collections import Counter

    from dbkit_spark.operators.mlmetrics import classification_report

    for seed in (91, 92):
        rnd = random.Random(seed)
        rows = [
            (rnd.choice("pqrs"), rnd.choice("pqr"))  # 's' never predicted
            for _ in range(200)
        ]
        tp, support, predicted = Counter(), Counter(), Counter()
        for y, p in rows:
            support[y] += 1
            predicted[p] += 1
            if y == p:
                tp[y] += 1
        classes = sorted(set(support) | set(predicted))

        def prf(c):
            pr = tp[c] / predicted[c] if predicted[c] else 0.0
            rc = tp[c] / support[c] if support[c] else 0.0
            f1 = 2 * pr * rc / (pr + rc) if pr + rc else 0.0
            return round(pr, 9), round(rc, 9), round(f1, 9)

        df = spark.createDataFrame(rows, "y string, p string")
        got = {
            r["class"]: r
            for r in classification_report(df, "y", "p").collect()
        }
        for c in classes:
            pr, rc, f1 = prf(c)
            assert (
                got[c]["precision"], got[c]["recall"], got[c]["f1"]
            ) == (pr, rc, f1), (seed, c)
        macro = got["__macro__"]
        assert abs(
            macro["precision"] - round(
                sum(prf(c)[0] for c in classes) / len(classes), 9)
        ) < 2e-9, seed
        micro = got["__micro__"]
        acc = round(sum(tp.values()) / len(rows), 9)
        assert micro["precision"] == acc == micro["recall"], seed


def test_theil_sen_matches_brute_force(spark):
    """Seeded randomized cross-check vs a python all-pairs slope median
    (percentile_disc semantics: the lower observed middle slope)."""
    import random

    from dbkit_spark.operators.timeseries import theil_sen_by_key

    for seed in (95, 96):
        rnd = random.Random(seed)
        rows = []
        expect = {}
        for k in range(6):
            n = rnd.randrange(3, 12)
            xs = rnd.sample(range(50), n)
            pts = [(x, 2.0 * x + rnd.uniform(-3, 3)) for x in xs]
            for x, y in pts:
                rows.append((k, x, y))
            slopes = sorted(
                (yj - yi) / (xj - xi)
                for i, (xi, yi) in enumerate(pts)
                for xj, yj in pts[i + 1:]
                if xi != xj
                for xi2 in [min(xi, xj)]  # slope sign is pair-order-free
            )
            # percentile_disc(0.5): first slope with cume_dist >= 0.5
            import math

            idx = math.ceil(len(slopes) * 0.5) - 1
            expect[k] = slopes[idx]

        df = spark.createDataFrame(rows, "k long, x long, y double")
        got = {
            r["k"]: r["slope"]
            for r in theil_sen_by_key(df, ["k"], "x", "y").collect()
        }
        assert set(got) == set(expect), seed
        for k in expect:
            # the operator ships slopes rounded to 9dp
            assert got[k] == round(expect[k], 9), (seed, k)


def test_prefix_agg_matches_brute_force(spark):
    """Seeded randomized cross-check of the Blelloch prefix scan vs a
    python running reduction, for sum/min/max and both frame modes,
    with duplicate order keys broken by a tiebreaker."""
    import random

    from dbkit_spark.operators.prefix import prefix_agg

    for seed in (101, 102):
        rnd = random.Random(seed)
        rows = [
            (i, rnd.randrange(20), rnd.randrange(-50, 50))
            for i in range(400)
        ]
        order = sorted(rows, key=lambda r: (r[1], r[0]))
        df = spark.createDataFrame(rows, "id long, k long, v long")
        for agg, fn0 in (("sum", lambda a, b: a + b), ("min", min), ("max", max)):
            for inclusive in (True, False):
                expect = {}
                acc = None
                for rid, _k, v in order:
                    if not inclusive:
                        expect[rid] = acc
                    acc = v if acc is None else fn0(acc, v)
                    if inclusive:
                        expect[rid] = acc
                got = {
                    r["id"]: r["out"]
                    for r in prefix_agg(
                        df, ["k", "id"], "v", agg=agg,
                        out_col="out", inclusive=inclusive,
                    ).collect()
                }
                assert got == expect, (seed, agg, inclusive)


def test_window_funnel_matches_brute_force(spark):
    """Seeded randomized cross-check of first-touch funnel levels vs a
    python greedy replay over random event streams."""
    import random
    from datetime import datetime, timedelta

    from dbkit_spark.operators.sequence import window_funnel

    steps = ["s1", "s2", "s3"]
    base = datetime(2024, 1, 1)
    for seed in (111, 112):
        rnd = random.Random(seed)
        rows = []
        streams = {}
        for u in range(40):
            evs = sorted(
                (rnd.randrange(0, 5000), rnd.choice(["s1", "s2", "s3", "x"]))
                for _ in range(rnd.randrange(1, 15))
            )
            streams[u] = evs
            for t, ty in evs:
                rows.append((u, base + timedelta(seconds=t), ty))

        def replay(evs, window=1000):
            anchor = next((t for t, ty in evs if ty == "s1"), None)
            if anchor is None:
                return 0, None
            level, cur = 1, anchor
            for want in steps[1:]:
                nxt = next(
                    (t for t, ty in evs
                     if ty == want and t > cur and t - anchor <= window),
                    None,
                )
                if nxt is None:
                    break
                level += 1
                cur = nxt
            return level, anchor

        df = spark.createDataFrame(rows, "u long, ts timestamp, ty string")
        got = {
            r["u"]: (r["funnel_level"], r["anchor_ts"])
            for r in window_funnel(df, "u", "ts", "ty", steps, 1000).collect()
        }
        for u, evs in streams.items():
            lvl, anchor = replay(evs)
            want_ts = (
                base + timedelta(seconds=anchor) if anchor is not None else None
            )
            if u not in got:
                assert lvl == 0, (seed, u)  # keys with no step events drop
            else:
                assert got[u] == (lvl, want_ts), (seed, u, got[u], (lvl, want_ts))


def test_weighted_quantile_matches_brute_force(spark):
    """Seeded randomized cross-check of exact type-1 weighted quantiles
    vs a python cumulative-weight scan, zero weights included."""
    import random

    from dbkit_spark.operators.prefix import weighted_quantile

    qs = [0.1, 0.25, 0.5, 0.9, 1.0]
    for seed in (121, 122):
        rnd = random.Random(seed)
        rows = [
            (i, rnd.randrange(30), rnd.randrange(0, 5)) for i in range(300)
        ]
        keep = sorted(
            ((v, i, w) for i, v, w in rows if w > 0), key=lambda t: (t[0], t[1])
        )
        total = sum(w for _, _, w in keep)

        def ref(q):
            cum = 0
            for v, _i, w in keep:
                cum += w
                if cum >= q * total:
                    return float(v)
            return float(keep[-1][0])

        df = spark.createDataFrame(rows, "id long, v long, w long")
        got = {
            r["q"]: r["value"]
            for r in weighted_quantile(df, "v", "w", qs, ["id"]).collect()
        }
        for q in qs:
            assert got[q] == ref(q), (seed, q, got[q], ref(q))


def test_kmv_set_estimates_accuracy(spark):
    """Seeded accuracy check: the shared-hash KMV estimates must land
    within 3 standard errors of exact python set arithmetic (Bernoulli
    sample of rate 1/16 at hex_zeros=1)."""
    import math
    import random

    from dbkit_spark.operators.cardinality import set_cardinality_estimates

    for seed in (131, 132):
        rnd = random.Random(seed)
        universe = list(range(40000))
        a = set(rnd.sample(universe, 12000))
        b = set(rnd.sample(universe, 9000))
        la = spark.createDataFrame([(x,) for x in a], "k long")
        lb = spark.createDataFrame([(x,) for x in b], "k long")
        r = set_cardinality_estimates(la, lb, "k", "k").collect()[0]
        p = 1 / 16

        def ok(est, true):
            se = math.sqrt(true * p * (1 - p)) / p  # scaled binomial SE
            return abs(est - true) <= 3 * se + 1

        assert ok(r["est_left"], len(a)), (seed, r["est_left"], len(a))
        assert ok(r["est_right"], len(b)), (seed, r["est_right"], len(b))
        assert ok(r["est_intersection"], len(a & b)), seed
        assert ok(r["est_union"], len(a | b)), seed
        true_j = len(a & b) / len(a | b)
        assert abs(r["jaccard"] - true_j) < 0.05, (seed, r["jaccard"], true_j)


def test_vad_bitdepth_invariance(spark):
    """ADVICE r9 (medium): vad_segments must normalize every decode arm
    to the 16-bit domain before the energy computation — 24/32-bit PCM
    decode at SOURCE scale (|s| up to 2^31), where s^2 sums silently
    wrap int64 and the 16-bit-calibrated threshold is meaningless.
    Same waveform, six encode arms => identical stats (the 8-bit arm's
    quantization can't flip a frame because the fixture keeps every
    frame's energy far from the threshold)."""
    from dbkit_spark.llm.audio import encode_wav, encode_wav_float, vad_segments

    n = 40
    rows = [
        (1, bytearray(encode_wav(n, seed=7, bits=8))),
        (2, bytearray(encode_wav(n, seed=7, bits=16))),
        (3, bytearray(encode_wav(n, seed=7, bits=24))),
        (4, bytearray(encode_wav(n, seed=7, bits=32))),
        (5, bytearray(encode_wav_float(n, seed=7, bits=32))),
        (6, bytearray(encode_wav_float(n, seed=7, bits=64))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in vad_segments(df, frame=8, threshold=358_000_000).collect()
    }
    base = out[2]
    assert base["decoded"] and base["n_frames"] == 5
    keys = (
        "n_frames", "n_active", "n_segments", "longest_run",
        "first_active", "active_ratio",
    )
    for did in (1, 3, 4, 5, 6):
        assert tuple(out[did][k] for k in keys) == tuple(
            base[k] for k in keys
        ), did


def test_permutation_test_weighted_coin_bruteforce(spark):
    """ADVICE r9: the relabeling coin must be allocation-preserving —
    P[pseudo-A] = observed unit share of group A — not a fair coin
    (which inflates the null for unbalanced groups). Pure-python replay
    of every coin and every permuted mean difference on a deliberately
    unbalanced 5/15 split."""
    import hashlib

    from dbkit_spark.operators.mlmetrics import permutation_test

    units = list(range(20))
    grp = {i: ("a" if i < 5 else "b") for i in units}
    val = {i: float((i * 3) % 11) for i in units}
    df = spark.createDataFrame(
        [("s", i, grp[i], val[i]) for i in units],
        "seg string, unit long, g string, x double",
    )
    B = 25
    got = permutation_test(df, "seg", "unit", "g", "x", "a", "b", n_perms=B)
    row = got.collect()[0].asDict()

    ua, ut = 5, 20
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    obs = abs(
        mean([val[i] for i in units if grp[i] == "a"])
        - mean([val[i] for i in units if grp[i] == "b"])
    )
    n_extreme = 0
    for b in range(B):
        side = {
            i: 0
            if int(hashlib.md5(f"{i}:{b}".encode()).hexdigest()[:8], 16) * ut
            < ua * (1 << 32)
            else 1
            for i in units
        }
        s0 = [val[i] for i in units if side[i] == 0]
        s1 = [val[i] for i in units if side[i] == 1]
        if s0 and s1 and abs(mean(s0) - mean(s1)) >= obs:
            n_extreme += 1
    assert row["obs_diff"] == obs
    assert row["n_extreme"] == n_extreme
    assert row["p_value"] == (n_extreme + 1) / (B + 1)


def test_cidr_enrich_conflicting_routes_deterministic(spark):
    """ADVICE r9: two blocks normalizing to the same (base, plen) but
    carrying different attribute values (duplicate/conflicting routes —
    plausible in real feeds) must resolve to a DETERMINISTIC winner:
    the lexicographically smallest attribute tuple, stable across
    runs/partitionings."""
    from dbkit_spark.functions.net import cidr_enrich

    blocks = spark.createDataFrame(
        [
            ("zeta", 10 * 16777216 + 65536, 16),
            # same /16 after alignment normalization, different owner
            ("alpha", 10 * 16777216 + 65536 + 999, 16),
        ],
        "owner string, net long, plen int",
    )
    probes = spark.createDataFrame(
        [(1, 10 * 16777216 + 65536 + 77)], "id long, ip long"
    )
    for _ in range(3):
        got = cidr_enrich(
            probes.repartition(7), "ip", "id", blocks, "net", "plen"
        ).collect()
        assert len(got) == 1
        assert (got[0]["owner"], got[0]["matched_plen"]) == ("alpha", 16)


def test_neyman_sample_all_degenerate_falls_back_proportional(spark):
    """ADVICE r9: when every stratum is constant (all sigma=0) the
    Neyman weight total is 0; the allocation must fall back to
    proportional (w_h = N_h) and still return exactly total_n rows,
    never silently 0."""
    from dbkit_spark.llm.sampling import neyman_sample

    rows = [(i, "big" if i < 30 else "small", 5.0) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    got = neyman_sample(df, "id", "s", "v", total_n=8).collect()
    assert len(got) == 8
    by_s = {}
    for r in got:
        by_s[r["s"]] = by_s.get(r["s"], 0) + 1
    # proportional: 30/40*8 = 6 and 10/40*8 = 2, exactly integral
    assert by_s == {"big": 6, "small": 2}
    # determinism: same pick on a different partitioning
    again = neyman_sample(
        df.repartition(5), "id", "s", "v", total_n=8
    ).collect()
    assert sorted(r["id"] for r in again) == sorted(r["id"] for r in got)
