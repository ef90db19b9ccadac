"""Schema coercion, dictionary TTL/enrich, readers, scripts, pipeline,
multimodal plumbing (SURVEY.md §2 rows 5, 7-9, 17, 21, 39-44)."""

import pytest
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.dictionary import DictionaryRegistry
from from_superset_to_clickhouse_spark.functions.scalar import (
    json_get,
    let_bind,
    mod_shard,
    with_defaults,
)
from from_superset_to_clickhouse_spark.operators import multimodal as mm
from from_superset_to_clickhouse_spark.operators import sketch as sk
from from_superset_to_clickhouse_spark.operators import text as txt
from from_superset_to_clickhouse_spark.operators.tokenizer import bpe_tokenize
from from_superset_to_clickhouse_spark.plans.pipeline import Pipeline, SkipStep, Step
from from_superset_to_clickhouse_spark.plans.script import (
    render_params,
    run_script,
    split_statements,
)
from from_superset_to_clickhouse_spark.schema import Field, Schema
from from_superset_to_clickhouse_spark.sources import readers

from conftest import ts


def test_schema_coerce_defaults_and_order(spark):
    sch = Schema(
        name="s",
        fields=(
            Field("id", "int", nullable=False),
            Field("v", "string", default="undefined"),
            Field("n", "int", default=-1),
        ),
    )
    df = spark.createDataFrame(
        [(None, None, 1), ("x", 7, 2)], "v string, n int, id int"
    )
    out = sch.coerce(df)
    assert out.columns == ["id", "v", "n"]
    rows = sorted(map(tuple, out.collect()))
    assert rows == [(1, "undefined", -1), (2, "x", 7)]


def test_with_defaults_leaves_other_columns(spark):
    df = spark.createDataFrame([(1, None, None)], "id int, a string, b int")
    out = with_defaults(df, {"a": "dft"})
    r = out.first()
    assert r["a"] == "dft" and r["b"] is None


def test_dictionary_enrich_attributes_only(spark):
    fact = spark.createDataFrame([(1, 10), (2, 99)], "k int, fk int")
    dim = spark.createDataFrame([(10, "ten")], "id int, name string")
    reg = DictionaryRegistry()
    reg.register("d", loader=lambda: dim, key="id")
    out = reg.enrich(fact, "d", fk="fk")
    assert out.columns == ["k", "fk", "name"]  # dict key column dropped
    got = {r["k"]: r["name"] for r in out.collect()}
    assert got == {1: "ten", 2: None}
    kept = reg.enrich(fact, "d", fk="fk", keep_key=True)
    assert "id" in kept.columns


def test_dictionary_ttl_reload(spark):
    calls = []

    def loader():
        calls.append(1)
        return spark.createDataFrame([(1, "a")], "id int, v string")

    reg = DictionaryRegistry()
    reg.register("d", loader=loader, key="id", lifetime_s=1e9)
    reg.get("d")
    reg.get("d")
    assert len(calls) == 1  # cached within lifetime
    reg.register("d0", loader=loader, key="id", lifetime_s=-1)
    reg.get("d0")
    reg.get("d0")
    assert len(calls) == 3  # stale every call -> reload


def test_csv_dialect_roundtrip(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id;v\n1;a\n2;NULL\n")
    df = readers.read_csv(spark, str(p))
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a"), (2, None)]


def test_pandas_roundtrip(spark):
    import pandas as pd

    pdf = pd.DataFrame({"id": [1, 2], "v": ["a", "b"]})
    df = readers.from_pandas(spark, pdf)
    back = readers.to_pandas(df.orderBy("id"))
    assert back["v"].tolist() == ["a", "b"]


def test_render_params_and_split():
    sql = "SELECT * FROM {{ params.tbl }} WHERE d > '{{ custom_template_fields.wm }}'"
    out = render_params(sql, {"tbl": "t", "wm": "2024-01-01"})
    assert out == "SELECT * FROM t WHERE d > '2024-01-01'"
    with pytest.raises(KeyError):
        render_params("{{ params.missing }}", {})
    assert split_statements("a; ;b;;") == ["a", "b"]


def test_run_script_multi_statement(spark):
    out = run_script(
        spark,
        script=(
            "CREATE OR REPLACE TEMP VIEW _rs AS SELECT {{ params.x }} AS a;"
            "SELECT a + 1 AS b FROM _rs"
        ),
        params={"x": 41},
    )
    assert out.first()["b"] == 42


def test_pipeline_skip_and_order(spark):
    seen = []

    def mk(name):
        def fn(ctx):
            seen.append(name)
            return name

        return fn

    def skipper(ctx):
        raise SkipStep("legacy source")

    p = Pipeline(
        name="p",
        stages=[
            Step("a", mk("a")),
            [Step("b1", mk("b1")), Step("b2", mk("b2"))],
            Step("skip_cond", mk("never"), when=lambda ctx: ctx["go"]),
            Step("skip_exc", skipper),
        ],
        config={"go": False},
    )
    res = p.run()
    assert res == {"a": "a", "b1": "b1", "b2": "b2",
                   "skip_cond": "SKIPPED", "skip_exc": "SKIPPED"}
    assert seen == ["a", "b1", "b2"]


def test_scalar_helpers(spark):
    df = spark.createDataFrame([(7, '{"k": 3}')], "id int, props string")
    r = df.select(
        mod_shard("id", 2).alias("shard"),
        json_get("props", "k").cast("int").alias("k"),
        let_bind(F.col("id") * 2, lambda x: x + x).alias("quad"),
    ).first()
    assert (r["shard"], r["k"], r["quad"]) == (1, 3, 28)


def test_multimodal_extract_features(spark):
    import hashlib

    docs = spark.createDataFrame([(0, "abc"), (1, "defg")], "doc_id long, text string")
    media = mm.synthesize_media(docs, "doc_id", "text")
    feats = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    assert feats[0]["n_bytes"] == 3
    assert feats[0]["content_hash"] == hashlib.sha256(b"abc").hexdigest()
    assert len(feats[1]["feature"]) == 8
    assert feats[0]["kind"] == "image" and feats[1]["kind"] == "audio"


def test_multimodal_decode_real_images_for_real():
    """Image, WAV and MP4 headers all decode for REAL (stdlib container
    parse); corrupt bytes raise ValueError (quarantine contract);
    unknown kinds honestly raise NotImplementedError."""
    assert mm.decode_real(mm.encode_png(12, 7), "image") == ("png", 12, 7)
    assert mm.decode_real(mm.encode_jpeg(640, 480), "image") == ("jpeg", 640, 480)
    assert mm.decode_real(mm.encode_gif(3, 9), "image") == ("gif", 3, 9)
    assert mm.decode_real(mm.encode_mp4(1500, 320, 240), "video") == (
        "mp4", 320, 240, 1500,
    )
    with pytest.raises(ValueError):
        mm.decode_real(b"not an image", "image")
    with pytest.raises(ValueError):
        mm.decode_real(b"not audio", "audio")
    with pytest.raises(ValueError):
        mm.decode_real(b"x", "video")
    with pytest.raises(NotImplementedError):
        mm.decode_real(b"x", "hologram")


def test_multimodal_wav_roundtrip_and_quarantine(spark):
    """encode_wav → decode_wav_header recovers rate/channels/duration
    exactly (chunk-walk over real RIFF bytes, word-aligned skip of
    unknown chunks); non-PCM and truncated streams raise; audio_meta
    quarantines corrupt rows as format=NULL."""
    import pandas as pd

    assert mm.decode_wav_header(mm.encode_wav(500)) == ("wav", 8000, 1, 500)
    assert mm.decode_wav_header(
        mm.encode_wav(1234, sample_rate=16000, channels=2)
    ) == ("wav", 16000, 2, 1234)
    # an unknown odd-sized chunk before fmt must be skipped word-aligned
    wav = mm.encode_wav(100)
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    spliced = wav[:12] + extra + wav[12:]
    spliced = b"RIFF" + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    assert mm.decode_wav_header(spliced) == ("wav", 8000, 1, 100)
    with pytest.raises(ValueError, match="non-PCM"):
        bad = bytearray(mm.encode_wav(10))
        bad[20] = 3  # format tag -> IEEE float
        mm.decode_wav_header(bytes(bad))
    with pytest.raises(ValueError):
        mm.decode_wav_header(mm.encode_wav(10)[:14])

    pdf = pd.DataFrame(
        {
            "media_id": [0, 1, 2],
            "payload": [
                mm.encode_wav(250),
                b"RIFF\x04\x00\x00\x00WAVE",  # no fmt/data chunks
                mm.encode_wav(60, sample_rate=16000, channels=2),
            ],
        }
    )
    audio = spark.createDataFrame(pdf, schema=mm.IMAGE_SCHEMA)
    rows = {r["media_id"]: r for r in mm.audio_meta(audio).collect()}
    assert (rows[0]["format"], rows[0]["sample_rate"], rows[0]["duration_ms"]) == (
        "wav", 8000, 250,
    )
    assert rows[1]["format"] is None and rows[1]["duration_ms"] is None
    assert (rows[2]["sample_rate"], rows[2]["channels"]) == (16000, 2)


def test_wav_sample_decode_and_audio_features(spark):
    """decode_wav_samples reinterprets the data chunk as int16 frames
    exactly (round-trip through encode_wav_pcm, mono and stereo);
    non-16-bit streams raise; audio_features recovers peak/RMS/mean/
    zero-crossings from the planted square-wave contract and
    quarantines undecodable payloads as NULL rows."""
    import numpy as np
    import pandas as pd

    mono = np.array([100, -200, 300, -400, 0, 7], dtype=np.int16)
    rate, ch, frames = mm.decode_wav_samples(mm.encode_wav_pcm(mono, 16000))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(frames[:, 0], mono)

    stereo = np.array([[1, -1], [32767, -32768], [5, 9]], dtype=np.int16)
    _, ch2, frames2 = mm.decode_wav_samples(mm.encode_wav_pcm(stereo))
    assert ch2 == 2
    assert np.array_equal(frames2, stereo)

    with pytest.raises(ValueError, match="16-bit"):
        mm.decode_wav_samples(mm.encode_wav(10, bits=8))

    # planted square wave for id=7: A=3000, P=4, K=17
    tones = mm.synthesize_tones(
        spark.range(7, 8).withColumnRenamed("id", "doc_id"), "doc_id"
    )
    bad = spark.createDataFrame(
        pd.DataFrame({"media_id": [99], "payload": [b"not a wav"]}),
        schema=mm.IMAGE_SCHEMA,
    )
    rows = {
        r["media_id"]: r
        for r in mm.audio_features(tones.unionByName(bad)).collect()
    }
    good = rows[7]
    assert good["n_frames"] == 2 * 4 * 17
    assert good["peak"] == 3000
    assert good["rms"] == 3000.0
    assert good["mean_sample"] == 0.0
    assert good["zero_crossings"] == 2 * 17 - 1
    assert rows[99]["n_frames"] is None and rows[99]["rms"] is None


def test_audio_spectrum_dft_features(spark):
    """audio_spectrum runs a real transform: a pure alternating wave
    peaks exactly at Nyquist with |X| = N·A; a two-tone mixture's
    dominant bin is the stronger tone's exact frequency bin; the
    square-wave fixture matches its closed form 2AK/sin(π/2P); junk
    quarantines as NULL rows."""
    import math

    import numpy as np
    import pandas as pd

    n = 64
    alt = (np.tile([2000, -2000], n // 2)).astype(np.int16)
    two = (
        1500.0 * np.sin(2 * np.pi * 8 * np.arange(n) / n)
        + 400.0 * np.sin(2 * np.pi * 3 * np.arange(n) / n)
    ).astype(np.int16)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "payload": [
                    mm.encode_wav_pcm(alt),
                    mm.encode_wav_pcm(two),
                    b"junk",
                ],
            }
        ),
        schema=mm.IMAGE_SCHEMA,
    )
    rows = {r["media_id"]: r for r in mm.audio_spectrum(df).collect()}
    assert rows[1]["n_bins"] == n // 2 + 1
    assert rows[1]["peak_bin"] == n // 2  # Nyquist
    assert rows[1]["peak_mag"] == round(2000.0 * n, 2)
    assert rows[1]["power"] == n * 2000 * 2000
    assert rows[2]["peak_bin"] == 8  # the stronger tone wins
    assert rows[3]["n_bins"] is None and rows[3]["peak_mag"] is None

    # fixture closed form for id=7: A=3000, P=4, K=17
    tones = mm.synthesize_tones(
        spark.range(7, 8).withColumnRenamed("id", "doc_id"), "doc_id"
    )
    r = mm.audio_spectrum(tones).first()
    assert r["peak_bin"] == 17
    assert r["n_bins"] == 4 * 17 + 1
    assert r["peak_mag"] == round(
        2 * 3000 * 17 / math.sin(math.pi / 8), 2
    )
    assert r["power"] == 2 * 4 * 17 * 3000 * 3000


def test_multimodal_mp4_roundtrip_and_quarantine(spark):
    """encode_mp4 → decode_mp4_header recovers dims + timescale-correct
    duration from real ISO-BMFF boxes; version-1 mvhd and largesize
    boxes parse; malformed streams raise; video_meta quarantines
    corrupt rows as format=NULL."""
    import struct

    import pandas as pd

    assert mm.decode_mp4_header(mm.encode_mp4(2500, 320, 240)) == (
        "mp4", 320, 240, 2500,
    )
    # timescale ≠ 1000: duration must be rescaled, not read raw
    assert mm.decode_mp4_header(
        mm.encode_mp4(7000, 64, 48, timescale=3000)
    ) == ("mp4", 64, 48, 7000)
    # version-1 mvhd (64-bit duration) layout
    mvhd = mm._box(
        b"mvhd",
        struct.pack(">I", 1 << 24)
        + struct.pack(">QQIQ", 0, 0, 600, 1200)
        + b"\x00" * 80,
    )
    tkhd = mm._box(
        b"tkhd",
        struct.pack(">I", 7)
        + struct.pack(">IIIII", 0, 0, 1, 0, 1200)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + b"\x00" * 36
        + struct.pack(">II", 320 << 16, 240 << 16),
    )
    v1 = mm._box(b"ftyp", b"isom\x00\x00\x00\x00isom") + mm._box(
        b"moov", mvhd + mm._box(b"trak", tkhd)
    )
    assert mm.decode_mp4_header(v1) == ("mp4", 320, 240, 2000)
    # a largesize (size==1, 64-bit) top-level box must be skipped cleanly
    big = struct.pack(">I", 1) + b"free" + struct.pack(">Q", 24) + b"x" * 8
    assert mm.decode_mp4_header(big + v1) == ("mp4", 320, 240, 2000)
    with pytest.raises(ValueError):
        mm.decode_mp4_header(mm.encode_mp4(100, 8, 8)[:40])
    with pytest.raises(ValueError):
        mm.decode_mp4_header(b"\x00\x00\x00\x08ftyp")  # no moov

    pdf = pd.DataFrame(
        {
            "media_id": [0, 1, 2],
            "payload": [
                mm.encode_mp4(900, 160, 120),
                b"\x00\x00\x00\x10moovjunkjunkjunk",
                mm.encode_mp4(4500, 1920, 1080, timescale=2000),
            ],
        }
    )
    vids = spark.createDataFrame(pdf, schema=mm.IMAGE_SCHEMA)
    rows = {r["media_id"]: r for r in mm.video_meta(vids).collect()}
    assert (rows[0]["format"], rows[0]["width"], rows[0]["duration_ms"]) == (
        "mp4", 160, 900,
    )
    assert rows[1]["format"] is None and rows[1]["width"] is None
    assert (rows[2]["height"], rows[2]["duration_ms"]) == (1080, 4500)


def test_multimodal_png_crc_guard():
    """A flipped dimension byte breaks the IHDR CRC: the decoder must
    raise rather than report corrupt-but-plausible dimensions."""
    good = bytearray(mm.encode_png(64, 48))
    good[17] ^= 0x01  # inside the IHDR width field
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_image_header(bytes(good))


def test_multimodal_image_dims_quarantines_corrupt(spark):
    """image_dims over a batch with one corrupt payload: good rows parse,
    the bad one becomes a format=NULL quarantine row — one rotten byte
    stream must not fail the stage."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "media_id": [0, 1, 2, 3, 4],
            "payload": [
                mm.encode_png(10, 20),
                mm.encode_jpeg(30, 40),
                b"\x89PNG\r\n\x1a\njunk",
                mm.encode_gif(5, 6),
                b"GIF87a",  # truncated mid-header: struct-level failure
            ],
        }
    )
    images = spark.createDataFrame(pdf, schema=mm.IMAGE_SCHEMA)
    rows = {r["media_id"]: r for r in mm.image_dims(images).collect()}
    assert (rows[0]["format"], rows[0]["width"], rows[0]["height"]) == ("png", 10, 20)
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("jpeg", 30, 40)
    assert rows[2]["format"] is None and rows[2]["width"] is None
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"]) == ("gif", 5, 6)
    assert rows[4]["format"] is None  # truncated header quarantines too


def test_client_hook_surface(spark):
    import pandas as pd

    from from_superset_to_clickhouse_spark import client

    pdf = pd.DataFrame({"id": [3, 1, 2], "v": ["c", "a", "b"]})
    client.import_pandas_df(spark, pdf, view="hook_t")
    recs = client.get_records(spark, "SELECT id, v FROM hook_t ORDER BY id")
    assert recs == [(1, "a"), (2, "b"), (3, "c")]
    first = client.get_first(spark, "SELECT id FROM hook_t ORDER BY id DESC")
    assert first == (3,)
    assert client.get_first(spark, "SELECT id FROM hook_t WHERE id > 99") is None
    out = client.run(
        spark,
        ["SELECT 1 AS a", "SELECT count(*) AS n FROM hook_t"],
    )
    assert out.collect()[0]["n"] == 3
    back = client.get_pandas_df(spark, "SELECT id FROM hook_t ORDER BY id")
    assert list(back["id"]) == [1, 2, 3]
    assert client.capped(spark.table("hook_t"), 2).count() == 2


def test_schema_clone_swaps_layout():
    from __spark_entry__ import EVENTS

    ext = EVENTS.clone("events_ext", partition_by=(), dedup_key=(), sort_by=())
    assert ext.name == "events_ext"
    assert ext.fields == EVENTS.fields
    assert ext.partition_by == ()
    assert EVENTS.partition_by != ()  # original untouched


def test_resize_images_filters_and_resizes(spark):
    from from_superset_to_clickhouse_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(0, "img"), (1, "aud"), (3, "img2")], "doc_id long, text string"
    )
    media = mm.synthesize_media(docs, "doc_id", "text")
    out = mm.resize_images(media, 16, 9).collect()
    assert {r["media_id"] for r in out} == {0, 3}  # only kind == image
    for r in out:
        assert (r["meta_width"], r["meta_height"]) == (16, 9)
        assert len(r["payload"]) == 16 * 9
    # deterministic: same input -> same resized payload
    again = {r["media_id"]: bytes(r["payload"]) for r in
             mm.resize_images(media, 16, 9).collect()}
    assert {r["media_id"]: bytes(r["payload"]) for r in out} == again


def test_frame_sampling_schedule_and_features(spark):
    from from_superset_to_clickhouse_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(2, "vid")], "doc_id long, text string"
    )
    media = mm.synthesize_media(docs, "doc_id", "text")
    # doc_id=2 -> video, duration (2 % 60000) + 1 = 3 ms -> one frame at 0
    sched = mm.sample_frame_times(media, every_ms=5000).collect()
    assert [(r["media_id"], r["frame_idx"], r["ts_ms"]) for r in sched] == [(2, 0, 0)]
    feats = mm.extract_frames(media, every_ms=5000, dim=4).collect()
    assert len(feats) == 1 and len(feats[0]["feature"]) == 4


def test_salted_agg_equals_plain(spark):
    from pyspark.sql import functions as F

    from from_superset_to_clickhouse_spark.operators import skew

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(50)] + [("cold", 1.0), ("cold", 2.0)],
        "k string, v double",
    )
    got = {
        r["k"]: (r["n"], r["sum_value"], r["max_value"])
        for r in skew.salted_agg(df, ["k"], "v", buckets=4).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["m"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("m"))
        .collect()
    }
    assert got == want


def test_salted_join_equals_plain(spark):
    from from_superset_to_clickhouse_spark.operators import skew

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "orphan")], "k long, payload string"
    )
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    inner = {
        (r["k"], r["payload"], r["name"])
        for r in skew.salted_join(big, small, "k", buckets=3).collect()
    }
    assert inner == {(1, "a", "one"), (1, "b", "one"), (2, "c", "two")}
    left = {
        (r["k"], r["payload"], r["name"])
        for r in skew.salted_join(big, small, "k", how="left", buckets=3).collect()
    }
    assert left == inner | {(9, "orphan", None)}


def test_quality_checks_fire_and_duplicate_keys(spark):
    from from_superset_to_clickhouse_spark.operators import quality as dq

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "b", None), (3, "zz", 2.0)],
        "id int, name string, score double",
    )
    checks = [
        dq.not_null("score"),
        dq.in_range("score", lo=0.0),
        dq.matches("name", "^[a-z]$"),
    ]
    counts = {r["check"]: r["n_violations"] for r in dq.validate(df, checks).collect()}
    assert counts == {
        "not_null_score": 1,
        "in_range_score": 2,  # the negative AND the NULL (unknown fails)
        "matches_name": 2,    # NULL name and 'zz'
    }
    bad = sorted(
        (r["id"], frozenset(r["violated_checks"]))
        for r in dq.violations(df, checks).collect()
    )
    assert bad == [
        (2, frozenset({"in_range_score", "matches_name"})),
        (2, frozenset({"in_range_score", "not_null_score"})),
        (3, frozenset({"matches_name"})),
    ]
    dup = dq.duplicate_keys(df, ["id"]).collect()
    assert [(r["id"], r["n_rows"]) for r in dup] == [(2, 2)]

    # A user-supplied Check whose expression evaluates to NULL (no
    # internal coalesce) must still count as a violation — the contract
    # is enforced centrally, not per-constructor.
    from pyspark.sql import functions as F

    raw = [dq.Check("raw_score_pos", F.col("score") > 0)]  # NULL on row 3
    raw_counts = {
        r["check"]: r["n_violations"] for r in dq.validate(df, raw).collect()
    }
    assert raw_counts == {"raw_score_pos": 2}  # -1.0 AND the NULL score
    raw_bad = sorted(r["id"] for r in dq.violations(df, raw).collect())
    assert raw_bad == [2, 2]


def test_hist_sketch_merge_equals_single_pass_and_error_bound(spark):
    """Mergeable quantile sketch: (a) partial-per-period → merge gives
    EXACTLY the same histogram as one pass over all data; (b) quantile
    estimates land within one bucket width of the true quantile; (c)
    out-of-range mass clamps into edge buckets so total == row count."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    lo, hi, B = 0.0, 500.0, 250
    period = F.date_trunc("day", F.col("ts")).cast("date")

    partials = sk.hist_partials(ev, "value", period, lo, hi, B)
    merged = sk.hist_merge(partials)

    # single-pass twin: bucket directly with no period split
    single = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(sk.bucket_index(F.col("value"), lo, hi, B).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, single.collect())
    )

    # two-batch merge == full merge (associativity over appends)
    h1 = partials.filter(F.dayofmonth("period") <= 15)
    h2 = partials.filter(F.dayofmonth("period") > 15)
    two = sk.hist_merge(h1.unionByName(h2))
    assert sorted(map(tuple, two.collect())) == sorted(
        map(tuple, merged.collect())
    )

    # error bound vs exact quantiles
    vals = sorted(r["value"] for r in ev.select("value").collect())
    n = len(vals)
    ests = {
        r["q"]: (r["est"], r["total"])
        for r in sk.hist_quantiles(merged, [0.5, 0.9, 0.99], lo, hi, B).collect()
    }
    width = (hi - lo) / B
    for q, (est, total) in ests.items():
        assert total == n
        true = vals[min(int(q * n), n - 1)]
        assert abs(est - true) <= width + 1e-9

    # clamping: values far outside the range still count
    wild = spark.createDataFrame(
        [(-50.0, 1), (9999.0, 1)], "value double, k int"
    )
    p = sk.hist_partials(wild, "value", F.col("k"), lo, hi, B).collect()
    got = {(r["bucket"], r["cnt"]) for r in p}
    assert got == {(0, 1), (B - 1, 1)}


def test_value_outliers_tukey_fences(spark):
    """Planted wild values are flagged per group; in-fence values are
    not; the broadcast plan never shuffles the fact side."""
    from from_superset_to_clickhouse_spark.operators.quality import (
        value_outliers,
    )

    rows = [(i, "a", float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 999])]
    rows += [(100 + i, "b", float(v)) for i, v in enumerate([5, 5, 5, 5, 5])]
    df = spark.createDataFrame(rows, "id int, g string, v double")
    got = {r["id"] for r in value_outliers(df, "v", ["g"]).collect()}
    assert got == {5}  # only the 999 in group a; group b has zero IQR, no flags

    plan = value_outliers(df, "v", ["g"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_heavy_hitters_exact_and_superset_guarantee(spark):
    """Two-pass Misra-Gries heavy hitters equal the exact groupBy twin
    under adversarial partitioning (an item spread thin across many
    partitions must still surface), including skewed and uniform mixes."""
    from from_superset_to_clickhouse_spark.operators.sketch import (
        heavy_hitters,
    )

    # 40% 'hot', a mid item, and a uniform tail of 200 singletons x 3
    rows = [("hot",)] * 400 + [("warm",)] * 60
    rows += [(f"tail{i}",) for i in range(200) for _ in range(3)]
    df = spark.createDataFrame(rows, "item string").repartition(16)
    n = len(rows)
    k = 20
    got = {(r["item"], r["cnt"]) for r in heavy_hitters(df, "item", k).collect()}
    brute = {
        (r["item"], r["cnt"])
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r["cnt"] > n / k
    }
    assert got == brute and brute == {("hot", 400), ("warm", 60)}


def test_ab_ztest_known_values_and_degenerate_arm(spark):
    """Welch z on a planted separable experiment matches the closed
    form; the erf polynomial is within its published 1.5e-7 error of
    scipy-free math.erf; an n<2 arm yields NULL z/p, not zero."""
    import math

    from from_superset_to_clickhouse_spark.operators import stats as st

    rows = []
    # exp1: arm A = {1,2,3}, arm B = {5,6,7} -> lift 4, se = 1/sqrt(1.5)
    for v in (1.0, 2.0, 3.0):
        rows.append(("exp1", "A", v))
    for v in (5.0, 6.0, 7.0):
        rows.append(("exp1", "B", v))
    rows.append(("exp2", "A", 1.0))  # single-row arm: var_samp NULL
    rows.append(("exp2", "B", 2.0))
    df = spark.createDataFrame(rows, "experiment string, variant string, value double")
    got = {r["experiment"]: r for r in st.ab_ztest(df, "experiment", "variant", "value").collect()}
    e1 = got["exp1"]
    assert e1["lift"] == 4.0 and e1["n_a"] == 3
    se = math.sqrt(1.0 / 3 + 1.0 / 3)  # var=1 each arm
    assert abs(e1["se"] - round(se, 6)) < 1e-9
    z = 4.0 / se
    assert abs(e1["z"] - round(z, 6)) < 1e-9
    p_exact = 2.0 * (1.0 - 0.5 * (1.0 + math.erf(abs(z) / math.sqrt(2))))
    assert abs(e1["p_value"] - p_exact) < 1e-6  # polynomial error bound
    assert got["exp2"]["z"] is None and got["exp2"]["p_value"] is None


def test_export_shards_manifest_detects_tamper(spark, tmp_path):
    """Sharded export writes a manifest whose per-shard count + XOR
    fingerprint verify clean from disk; deleting one shard's file flips
    exactly that shard's ok flag (fingerprint XOR is order-independent,
    so a clean reread always matches regardless of task order)."""
    import glob
    import os

    from from_superset_to_clickhouse_spark.sources.readers import (
        export_shards,
        verify_shards,
    )

    df = spark.range(200).selectExpr("id AS doc_id", "CAST(id AS STRING) AS t")
    path = str(tmp_path / "shards")
    manifest = export_shards(df, path, n_shards=4, id_col="doc_id")
    assert [m["shard"] for m in manifest] == [0, 1, 2, 3]
    assert sum(m["n_rows"] for m in manifest) == 200
    ok = verify_shards(spark, path, id_col="doc_id")
    assert [r["ok"] for r in ok.collect()] == [1, 1, 1, 1]
    # tamper: drop one file from shard 2
    victim = glob.glob(os.path.join(path, "shard=2", "*.parquet"))[0]
    os.remove(victim)
    spark.catalog.clearCache()
    flags = {
        r["shard"]: r["ok"]
        for r in verify_shards(spark, path, id_col="doc_id").collect()
    }
    assert flags[2] == 0
    assert flags[0] == 1 and flags[1] == 1 and flags[3] == 1


def test_export_shards_reexport_replaces_every_shard(spark, tmp_path):
    """A second export to the same path with fewer shards replaces the
    whole export: no stale shard directory survives, and the path reads
    back exactly the rows its manifest counts."""
    import os

    from from_superset_to_clickhouse_spark.sources.readers import export_shards

    df = spark.range(8).selectExpr("id AS doc_id")
    path = str(tmp_path / "shards")
    export_shards(df, path, n_shards=4, id_col="doc_id")
    manifest = export_shards(df, path, n_shards=2, id_col="doc_id")
    assert sorted(d for d in os.listdir(path) if d.startswith("shard=")) == [
        "shard=0", "shard=1",
    ]
    assert sum(m["n_rows"] for m in manifest) == 8
    assert spark.read.parquet(path).count() == 8


def test_png_pixel_decode_all_filters_and_color_types():
    """decode_png_pixels (VERDICT r6 item 4): inflate + unfilter
    round-trips every PNG filter type for both grayscale and truecolor;
    corrupt IDAT bytes and unsupported layouts raise ValueError (the
    quarantine contract), never return garbage pixels."""
    import pytest as _pytest

    for ft in range(5):
        w, h, ch, px = mm.decode_png_pixels(mm.encode_png(7, 5, filter_type=ft))
        assert (w, h, ch) == (7, 5, 1)
        assert px == bytes((x + y) % 256 for y in range(5) for x in range(7))
        w, h, ch, px = mm.decode_png_pixels(
            mm.encode_png(6, 4, color=(200, 10, 123), filter_type=ft)
        )
        assert (w, h, ch) == (6, 4, 3)
        assert px == bytes((200, 10, 123)) * 24
    # the old header decoder still accepts truecolor streams
    assert mm.decode_image_header(mm.encode_png(6, 4, color=(1, 2, 3))) == (
        "png", 6, 4,
    )
    # bit-flip inside IDAT -> CRC mismatch, not silent wrong pixels
    bad = bytearray(mm.encode_png(8, 8))
    bad[40] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC|truncated"):
        mm.decode_png_pixels(bytes(bad))
    with _pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png_pixels(b"GIF89a junk")
    # png_feature: solid red 4x4 -> mean 1/3, min 0, max 1, channels
    # means (1, 0, 0); non-PNG falls back in extract_features
    f = mm.png_feature(mm.encode_png(4, 4, color=(255, 0, 0)), dim=8)
    assert f[2] == 0.0 and f[3] == 1.0 and abs(f[0] - 1 / 3) < 1e-9
    assert f[4] == 1.0 and f[5] == 0.0 and f[6] == 0.0


def test_image_pixel_stats_quarantine_and_exactness(spark):
    """image_pixel_stats over a mixed batch: real PNGs yield exact
    integer (n_px, px_sum, min, max); JPEG (no pixel data) and corrupt
    payloads quarantine with format NULL."""
    rows = [
        (1, mm.encode_png(3, 2, color=(10, 20, 30), filter_type=4)),
        (2, mm.encode_png(4, 3)),  # gray ramp
        (3, mm.encode_jpeg(5, 5)),  # header-only format -> quarantine
        (4, b"\x89PNG\r\n\x1a\ntruncated"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r.asDict() for r in mm.image_pixel_stats(df).collect()}
    assert got[1]["n_px"] == 18 and got[1]["px_sum"] == 60 * 6
    assert got[1]["min_px"] == 10 and got[1]["max_px"] == 30
    # ramp 4x3: sum = h*w(w-1)/2 + w*h(h-1)/2 = 3*6 + 4*3 = 30
    assert got[2]["n_px"] == 12 and got[2]["px_sum"] == 30
    assert got[2]["min_px"] == 0 and got[2]["max_px"] == 5
    assert got[3]["format"] is None and got[3]["px_sum"] is None
    assert got[4]["format"] is None


def test_split_statements_quote_aware():
    """VERDICT r6 item 6: a ';' inside a string literal, quoted
    identifier, or comment is content, not a separator — the
    reference's blind split(';') (clickhouse_operator.py:45-64) breaks
    these; the divergence is deliberate and pinned here."""
    assert split_statements("SELECT ';' AS s; SELECT 2") == [
        "SELECT ';' AS s",
        "SELECT 2",
    ]
    assert split_statements("SELECT 'a;b', \"x;y\"; SELECT `c;d` FROM t") == [
        "SELECT 'a;b', \"x;y\"",
        "SELECT `c;d` FROM t",
    ]
    # doubled-quote escape keeps the scanner in-string across ''
    assert split_statements("SELECT 'it''s; fine'; SELECT 1") == [
        "SELECT 'it''s; fine'",
        "SELECT 1",
    ]
    # comments swallow semicolons too
    assert split_statements("SELECT 1 -- trailing; not a split\n; SELECT 2") == [
        "SELECT 1 -- trailing; not a split",
        "SELECT 2",
    ]
    assert split_statements("SELECT /* a;b */ 1; SELECT 2") == [
        "SELECT /* a;b */ 1",
        "SELECT 2",
    ]
    # the old contract still holds
    assert split_statements("a; ;b;;") == ["a", "b"]


def test_run_script_semicolon_in_literal(spark):
    out = run_script(spark, script="SELECT ';' AS semi; SELECT concat(';', 'x;y') AS j")
    assert out.first()["j"] == ";x;y"


def test_csv_empty_field_lands_schema_default(spark, tmp_path):
    """VERDICT r6 item 5 (reference hook.py:92-112 parity): an EMPTY
    CSV field reads as NULL and Schema.coerce lands the declared
    default — the same path the reference's CSV bulk ingest takes into
    a DEFAULT column. Both the empty form and the explicit NULL literal
    coerce; a real value survives."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    p = tmp_path / "defaults.csv"
    p.write_text("id;v;n\n1;a;5\n2;;\n3;NULL;NULL\n")
    schema = Schema(
        "csv_t",
        (
            Field("id", "int", nullable=False),
            Field("v", "string", default="undefined"),
            Field("n", "int", default=-1),
        ),
    )
    df = readers.read_csv(spark, str(p), schema=schema.to_struct_type())
    got = {r["id"]: (r["v"], r["n"]) for r in schema.coerce(df).collect()}
    assert got == {1: ("a", 5), 2: ("undefined", -1), 3: ("undefined", -1)}


def test_png_downsample_box_filter_and_reencode(spark):
    """downsample_images: decode -> 2x2 box mean -> re-encode -> decode
    round trip; ramp blocks average to 2X+2Y+1 exactly, solids stay
    themselves, misaligned dims quarantine as NULL payloads."""
    rows = [
        (1, mm.encode_png(8, 4, filter_type=4)),            # ramp
        (2, mm.encode_png(4, 6, color=(10, 20, 30))),        # solid rgb
        (3, mm.encode_png(5, 4)),                            # misaligned
        (4, mm.encode_jpeg(4, 4)),                           # not png
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r["payload"] for r in mm.downsample_images(df, 2).collect()}
    w, h, ch, px = mm.decode_png_pixels(bytes(out[1]))
    assert (w, h, ch) == (4, 2, 1)
    assert px == bytes(2 * X + 2 * Y + 1 for Y in range(2) for X in range(4))
    w, h, ch, px = mm.decode_png_pixels(bytes(out[2]))
    assert (w, h, ch) == (2, 3, 3) and px == bytes((10, 20, 30)) * 6
    assert out[3] is None and out[4] is None
    # encode_png_raw is the exact inverse of decode_png_pixels
    p = mm.encode_png(6, 4, color=(9, 130, 200), filter_type=3)
    assert mm.decode_png_pixels(mm.encode_png_raw(*mm.decode_png_pixels(p))) \
        == mm.decode_png_pixels(p)


def test_chi2_independence_known_2x2(spark):
    """Hand-checked 2x2 table: chi2 = N(ad-bc)^2/(r1 r2 c1 c2) =
    60*(10*10-20*20)^2/30^4 = 20/3; dof 1; Wilson-Hilferty p in the
    right ballpark of the exact 0.00982. Independent columns give
    chi2 = 0 and p = 1 (within approximation)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        chi2_independence,
        mutual_information,
    )

    rows = (
        [("a", 0)] * 10 + [("a", 1)] * 20 + [("b", 0)] * 20 + [("b", 1)] * 10
    )
    df = spark.createDataFrame(rows, "x string, y int")
    r = chi2_independence(df, "x", "y").first()
    assert r["n"] == 60 and r["dof"] == 1
    assert abs(r["chi2"] - 20 / 3) < 1e-6
    assert 0.004 < r["p_value"] < 0.02
    # independence -> chi2 0
    ind = spark.createDataFrame(
        [("a", 0)] * 10 + [("a", 1)] * 10 + [("b", 0)] * 10 + [("b", 1)] * 10,
        "x string, y int",
    )
    r2 = chi2_independence(ind, "x", "y").first()
    assert r2["chi2"] == 0.0 and r2["p_value"] > 0.9

    # mutual information: independent -> 0; identical -> H = ln(2)
    import math

    assert mutual_information(ind, "x", "y").first()["mi_nats"] == 0.0
    dep = spark.createDataFrame(
        [("a", 0)] * 15 + [("b", 1)] * 15, "x string, y int"
    )
    mi = mutual_information(dep, "x", "y").first()["mi_nats"]
    assert abs(mi - math.log(2)) < 1e-6


def test_gif_pixel_decode_canonical_and_quarantine(spark):
    """The canonical 35-byte 1x1 wild GIF (the classic minimal stream,
    02 4C 01 LZW data) decodes to a single black pixel through a
    graphic-control extension block; truncated streams raise;
    image_pixel_stats now handles PNG and GIF rows in the same pass and
    quarantines neither format's valid payloads."""
    import pandas as pd

    canonical = bytes.fromhex(
        "47494638396101000100800000ffffff00000021f9040000000000"
        "2c00000000010001000002024c01003b"
    )
    assert mm.decode_gif_pixels(canonical) == (1, 1, 3, b"\x00\x00\x00")
    with pytest.raises(ValueError):
        mm.decode_gif_pixels(canonical[:20])

    png = mm.encode_png(2, 2, color=(9, 9, 9))
    gif = mm.encode_gif_pixels(1, 2, bytes([0, 0]), [(10, 20, 30)])
    df = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": [1, 2, 3], "payload": [png, gif, b"junk"]}
        ),
        schema=mm.IMAGE_SCHEMA,
    )
    rows = {r["media_id"]: r for r in mm.image_pixel_stats(df).collect()}
    assert (rows[1]["format"], rows[1]["px_sum"]) == ("png", 9 * 12)
    assert (rows[2]["format"], rows[2]["px_sum"]) == ("gif", 2 * 60)
    assert rows[3]["format"] is None


def test_gif_interlace_roundtrip_and_pass_order():
    """GIF 4-pass interlace (Appendix E): encode(interlace=True) →
    decode recovers the ORIGINAL row order bit-exactly for every height
    1..20 (partial-pass heights included); the transmitted row order is
    the published pass sequence; and flipping the interlace bit on a
    sequential stream permutes rows exactly per the pass table — the
    deinterlacer runs off the flag, not off content heuristics."""
    pal = [(c, 2 * c, 3 * c) for c in range(4)]
    for h in list(range(1, 21)) + [64]:
        w = 5
        idx = bytes((x + y) % 4 for y in range(h) for x in range(w))
        payload = mm.encode_gif_pixels(w, h, idx, pal, interlace=True)
        # flag is set on the wire
        pos = payload.index(0x2C)
        assert payload[pos + 9] & 0x40
        got = mm.decode_gif_pixels(payload)
        want = mm.decode_gif_pixels(mm.encode_gif_pixels(w, h, idx, pal))
        assert got == want == (w, h, 3, bytes(
            b for y in range(h) for x in range(w)
            for b in pal[(x + y) % 4]
        ))

    # published pass ordering for h=10: rows 0,8 | 4 | 2,6 | 1,3,5,7,9
    assert mm._gif_interlace_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]

    # bit-flip WITHOUT permuting rows: decoder must apply the inverse
    # pass mapping (row r of the flipped image = sequential row k where
    # order[k] = r), proving the flag drives deinterlacing
    h, w = 10, 3
    idx = bytes((y % 4) for y in range(h) for _ in range(w))
    seq = bytearray(mm.encode_gif_pixels(w, h, idx, pal))
    pos = bytes(seq).index(0x2C)
    seq[pos + 9] |= 0x40
    _, _, _, rgb = mm.decode_gif_pixels(bytes(seq))
    order = mm._gif_interlace_order(h)
    for k, r in enumerate(order):
        row = rgb[r * w * 3 : (r + 1) * w * 3]
        c = k % 4  # sequential row k held color k%4
        assert row == bytes(pal[c]) * w


def test_jpeg_codec_exact_solids_and_quarantine(spark):
    """Baseline JPEG: solid even-gray images survive the lossy format
    EXACTLY (DC divisible by the Annex K quant step, zero AC);
    arbitrary content with an all-ones quant table round-trips within
    ±1; multi-component (color) SOF0, progressive SOF2 and truncated
    streams quarantine; the three-format pixel-stats pass tells
    png/gif/jpeg apart in one batch."""
    import pandas as pd

    for v in (0, 130, 248):
        for w, h in ((1, 1), (8, 8), (13, 9)):
            px = bytes([v]) * (w * h)
            got = mm.decode_jpeg_pixels(mm.encode_jpeg_gray(w, h, px))
            assert got == (w, h, 1, px)

    import random

    rng = random.Random(11)
    px = bytes(rng.randrange(256) for _ in range(16 * 12))
    _, _, _, out = mm.decode_jpeg_pixels(
        mm.encode_jpeg_gray(16, 12, px, quant=[1] * 64)
    )
    assert max(abs(a - b) for a, b in zip(px, out)) <= 1

    good = mm.encode_jpeg_gray(4, 4, bytes([100]) * 16)
    i = good.index(b"\xff\xc0")
    # component count 3 with a 1-component scan -> frame/scan mismatch
    color = bytearray(good)
    color[i + 9] = 3
    with pytest.raises(ValueError, match="mismatch|malformed"):
        mm.decode_jpeg_pixels(bytes(color))
    # flipping SOF0->SOF2 makes the baseline scan header ILLEGAL as a
    # progressive scan (Ss=0 with Se=63): structured quarantine, not
    # a silent mis-decode
    prog = bytearray(good)
    prog[i + 1] = 0xC2  # SOF2 progressive
    with pytest.raises(ValueError, match="band|malformed"):
        mm.decode_jpeg_pixels(bytes(prog))
    with pytest.raises(ValueError):
        mm.decode_jpeg_pixels(good[:40])

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3, 4],
                "payload": [
                    mm.encode_png(2, 2, color=(9, 9, 9)),
                    mm.encode_gif_pixels(1, 2, bytes([0, 0]), [(10, 20, 30)]),
                    mm.encode_jpeg_gray(3, 2, bytes([50]) * 6),
                    b"junk",
                ],
            }
        ),
        schema=mm.IMAGE_SCHEMA,
    )
    rows = {r["media_id"]: r for r in mm.image_pixel_stats(df).collect()}
    assert rows[1]["format"] == "png"
    assert rows[2]["format"] == "gif"
    assert (rows[3]["format"], rows[3]["px_sum"], rows[3]["channels"]) == (
        "jpeg", 300, 1,
    )
    assert rows[4]["format"] is None


def test_jpeg_progressive_codec_matches_sequential():
    """Progressive (SOF2) JPEG per T.81 Annex G: the multi-scan coding
    (interleaved DC first/refine, spectral-banded AC first/refine with
    EOB runs + correction bits, optimal per-file Huffman tables) is a
    pure re-coding of the same quantized coefficients, so progressive
    and sequential decodes of the same content must be BIT-IDENTICAL —
    across grayscale/color, both sampling modes, restart intervals,
    dense (quant=1) and sparse (Annex K) coefficient regimes, long
    EOBn runs (large solids) and edge-size frames."""
    import random

    rng = random.Random(7)
    # grayscale solids: exact through the lossy format
    for v in (0, 130, 248):
        for w, h in ((1, 1), (8, 8), (13, 9)):
            px = bytes([v]) * (w * h)
            assert mm.decode_jpeg_pixels(
                mm.encode_jpeg_progressive(w, h, px)
            ) == (w, h, 1, px)
    # random gray, both quant regimes: identical to the baseline decode
    for w, h in ((16, 12), (9, 7), (24, 17)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        for q in ([1] * 64, None):
            assert mm.decode_jpeg_pixels(
                mm.encode_jpeg_gray(w, h, px, quant=q)
            ) == mm.decode_jpeg_pixels(
                mm.encode_jpeg_progressive(w, h, px, quant=q)
            )
    # color: sampling x restart x size grid
    for sub in ("4:4:4", "4:2:0"):
        for ri in (0, 2):
            for w, h in ((16, 16), (17, 9)):
                n = w * h
                y = bytes(rng.randrange(256) for _ in range(n))
                cb = bytes(rng.randrange(256) for _ in range(n))
                cr = bytes(rng.randrange(256) for _ in range(n))
                assert mm.decode_jpeg_pixels(
                    mm.encode_jpeg_ycbcr(
                        w, h, y, cb, cr, subsampling=sub,
                        restart_interval=ri,
                    )
                ) == mm.decode_jpeg_pixels(
                    mm.encode_jpeg_progressive(
                        w, h, y, cb, cr, subsampling=sub,
                        restart_interval=ri,
                    )
                )
    # large solid color: EOBn runs spanning hundreds of blocks
    w, h = 128, 96
    n = w * h
    y, cb, cr = bytes([200]) * n, bytes([90]) * n, bytes([160]) * n
    assert mm.decode_jpeg_pixels(
        mm.encode_jpeg_ycbcr(w, h, y, cb, cr, subsampling="4:2:0")
    ) == mm.decode_jpeg_pixels(
        mm.encode_jpeg_progressive(w, h, y, cb, cr, subsampling="4:2:0")
    )
    # header decode reports SOF2 dims; 3x1 sampling still quarantines
    prog = mm.encode_jpeg_progressive(17, 9, bytes([100]) * 153)
    assert mm.decode_image_header(prog) == ("jpeg", 17, 9)
    bad = bytearray(prog)
    i = bad.index(b"\xff\xc2")
    bad[i + 11] = 0x31  # luma sampling 3x1: not a supported mode
    with pytest.raises(ValueError, match="subsampling|malformed"):
        mm.decode_jpeg_pixels(bytes(bad))


def test_count_min_sketch_bounds_and_merge(spark):
    """Count-Min guarantees: estimates NEVER undercount; on a small
    collision-free domain they are exact; merging two half-sketches
    equals building one sketch over the union (cell-wise identity);
    width*depth bounds the state size regardless of input rows."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk

    rows = [(i, f"k{i % 7}") for i in range(700)]
    df = spark.createDataFrame(rows, "id long, k string")
    exact = {f"k{j}": 100 for j in range(7)}

    full = sk.cms_build(df, "k")
    assert full.count() <= 256 * 4
    keys = df.select("k").distinct()
    got = {r["key"]: r["est"] for r in sk.cms_query(full, keys, "k").collect()}
    assert all(got[k] >= exact[k] for k in exact)  # never undercounts
    assert got == exact  # 7 keys in 256 buckets: collision-free here

    merged = sk.cms_merge(
        sk.cms_build(df.filter(F.col("id") % 2 == 0), "k"),
        sk.cms_build(df.filter(F.col("id") % 2 == 1), "k"),
    )
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b


def test_linear_regression_closed_form_and_degenerates(spark):
    """Exact fit on a perfect line (slope/intercept/r2 closed-form),
    pairwise NULL exclusion, and NULL results for vertical (var x = 0)
    and constant-y (var y = 0 -> r2 NULL, slope 0) groups."""
    from from_superset_to_clickhouse_spark.operators import stats as st

    rows = (
        [("line", float(x), 3.0 * x + 7.0) for x in range(10)]
        + [("line", 99.0, None), ("line", None, 5.0)]  # excluded pairwise
        + [("vert", 4.0, float(y)) for y in range(5)]
        + [("flat", float(x), 2.5) for x in range(5)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {
        r["g"]: (r["n"], r["slope"], r["intercept"], r["r2"])
        for r in st.linear_regression(df, "x", "y", ["g"]).collect()
    }
    assert got["line"] == (10, 3.0, 7.0, 1.0)
    assert got["vert"] == (5, None, None, None)
    assert got["flat"][0] == 5 and got["flat"][1] == 0.0
    assert got["flat"][3] is None  # r2 undefined when var(y) = 0


def test_weighted_heavy_hitters_adversarial_partitioning(spark):
    """Weighted MG candidates provably contain every >W/k item even
    when a heavy item's weight is scattered thinly across partitions
    while decoys are locally concentrated; results equal the exact
    weighted groupBy twin; zero/negative/NULL weights excluded."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk

    # 'whale' carries 60% of the weight in many small rows; decoys are
    # single heavy rows. k=3 -> threshold = W/3.
    rows = (
        [("whale", 3.0)] * 200  # 600
        + [("decoy1", 150.0), ("decoy2", 150.0), ("decoy3", 100.0)]
        + [("noise", -5.0), (None, 99.0), ("zero", 0.0)]
    )
    df = spark.createDataFrame(rows, "item string, w double").repartition(8)
    got = {
        r["item"]: r["wsum"]
        for r in sk.weighted_heavy_hitters(df, "item", "w", k=3).collect()
    }
    assert got == {"whale": 600.0}  # 600 > 1000/3; decoys below


def test_split_statements_backtick_backslash_escape():
    """ADVICE r7: quote_ident escapes an embedded backtick as \\` and
    ClickHouse's lexer accepts it — the scanner must honor backslash
    escapes inside the backtick state too, or the identifier closes
    early and a later ';' mis-splits."""
    assert split_statements("SELECT `we\\`ird; name`; SELECT 2") == [
        "SELECT `we\\`ird; name`",
        "SELECT 2",
    ]


def test_jpeg_color_codec_exact_solids_rgb_and_quarantine():
    """COLOR baseline JPEG (VERDICT r7 item 2): solid YCbCr planes with
    even Y and 17-step-aligned chroma survive the lossy format EXACTLY
    through all four sampling modes (4:4:4/4:2:0/4:2:2/4:4:0) AND
    restart markers; the RGB front-door round-trips arbitrary content
    within the color-conversion bound under all-ones quant; exotic
    sampling (3x1) and restart-marker corruption quarantine."""
    import numpy as np

    def solid(w, h, v):
        return bytes([v]) * (w * h)

    for (w, h) in ((1, 1), (8, 8), (13, 9), (17, 13)):
        for (y, cb, cr) in ((130, 128, 128), (200, 9, 247), (64, 43, 179)):
            for sub in ("4:4:4", "4:2:0", "4:2:2", "4:4:0"):
                for ri in (0, 2):
                    p = mm.encode_jpeg_ycbcr(
                        w, h, solid(w, h, y), solid(w, h, cb),
                        solid(w, h, cr), subsampling=sub,
                        restart_interval=ri,
                    )
                    got = mm.decode_jpeg_pixels(p)
                    r = int(np.clip(np.rint(y + 1.402 * (cr - 128)), 0, 255))
                    g = int(np.clip(np.rint(
                        y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
                    ), 0, 255))
                    b = int(np.clip(np.rint(y + 1.772 * (cb - 128)), 0, 255))
                    assert got == (w, h, 3, bytes([r, g, b]) * (w * h))

    # RGB front-door: all-ones quant bounds the error to the YCbCr
    # 8-bit conversion round (<=3 levels), both sampling modes decode
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=24 * 17 * 3, dtype=np.uint8).tobytes()
    p = mm.encode_jpeg_color(24, 17, rgb, quant=[1] * 64, chroma_quant=[1] * 64)
    _, _, c, out = mm.decode_jpeg_pixels(p)
    assert c == 3
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(rgb, np.uint8).astype(int)
    )
    assert diff.max() <= 3
    w2, h2, c2, _ = mm.decode_jpeg_pixels(
        mm.encode_jpeg_color(24, 17, rgb, subsampling="4:2:0")
    )
    assert (w2, h2, c2) == (24, 17, 3)

    # exotic 3x1 luma sampling quarantines honestly
    p31 = bytearray(mm.encode_jpeg_color(8, 8, bytes(8 * 8 * 3)))
    i = p31.index(b"\xff\xc0")
    p31[i + 11] = 0x31
    with pytest.raises(ValueError, match="subsampling"):
        mm.decode_jpeg_pixels(bytes(p31))

    # dropping a restart marker is detected, not silently misdecoded
    p_rst = mm.encode_jpeg_ycbcr(
        32, 32, solid(32, 32, 130), solid(32, 32, 128), solid(32, 32, 128),
        restart_interval=1,
    )
    j = p_rst.index(b"\xff\xd0")
    with pytest.raises(ValueError):
        mm.decode_jpeg_pixels(p_rst[:j] + p_rst[j + 2:])

    # header parse reports color dims
    assert mm.decode_image_header(
        mm.encode_jpeg_color(31, 7, bytes(31 * 7 * 3))
    ) == ("jpeg", 31, 7)


def test_mp4_sample_tables_roundtrip_and_quarantine(spark):
    """encode_mp4_track → decode_mp4_samples recovers per-sample DTS
    (stts run-length decode), sizes (stsz) and keyframes (stss)
    exactly, including mixed-delta runs; header-only MP4s (no sample
    tables) raise; video_frame_index reduces to the scheduler scalars
    and quarantines header-only rows."""
    import pandas as pd

    deltas = [100, 100, 100, 50, 50, 200]
    sizes = [500, 400, 300, 200, 100, 600]
    p = mm.encode_mp4_track(
        320, 240, deltas, sizes, sync_every=3, media_timescale=600
    )
    ts, samples = mm.decode_mp4_samples(p)
    assert ts == 600
    assert [s[1] for s in samples] == [0, 100, 200, 300, 350, 400]
    assert [s[2] for s in samples] == sizes
    assert [s[3] for s in samples] == [True, False, False, True, False, False]
    # the header boxes stay consistent with the sample tables
    assert mm.decode_mp4_header(p) == ("mp4", 320, 240, sum(deltas) * 1000 // 600)

    with pytest.raises(ValueError, match="sample tables"):
        mm.decode_mp4_samples(mm.encode_mp4(2000, 64, 64))

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "payload": [p, mm.encode_mp4(2000, 64, 64)],
            }
        ),
        schema=mm.IMAGE_SCHEMA,
    )
    rows = {r["media_id"]: r for r in mm.video_frame_index(df).collect()}
    assert rows[1]["n_samples"] == 6
    assert rows[1]["n_sync"] == 2
    assert rows[1]["bytes_total"] == sum(sizes)
    assert rows[1]["max_size"] == 600
    assert rows[1]["last_dts_ms"] == 400 * 1000 // 600
    assert rows[2]["n_samples"] is None


def test_ks_test_known_cases(spark):
    from from_superset_to_clickhouse_spark.operators.stats import ks_test

    # disjoint supports -> D = 1, p ~ 0
    rows = [("a", float(v)) for v in range(50)] + [
        ("b", float(v)) for v in range(100, 150)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_test(df, "v", "g", [("a", "b")]).first()
    assert r["ks_d"] == 1.0
    assert r["p_value"] < 1e-6
    assert (r["n_a"], r["n_b"]) == (50, 50)

    # identical samples (all ties) -> D = 0, p = 1
    rows = [("a", float(v % 5)) for v in range(40)] + [
        ("b", float(v % 5)) for v in range(40)
    ]
    r = ks_test(
        spark.createDataFrame(rows, "g string, v double"), "v", "g", [("a", "b")]
    ).first()
    assert r["ks_d"] == 0.0
    assert r["p_value"] == 1.0

    # hand-computed tied case: a = [1,2,2,3], b = [2,3,3,4]
    # ECDF steps at 1,2,3,4: Fa = .25,.75,1,1 ; Fb = 0,.25,.75,1 -> D=.5
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 3.0), ("b", 4.0)]
    r = ks_test(
        spark.createDataFrame(rows, "g string, v double"), "v", "g", [("a", "b")]
    ).first()
    assert r["ks_d"] == 0.5

    # a group can sit in several pairs; each pair is independent
    rows = [("a", 1.0), ("b", 1.0), ("c", 9.0)]
    out = {
        r["pair"]: r["ks_d"]
        for r in ks_test(
            spark.createDataFrame(rows, "g string, v double"),
            "v",
            "g",
            [("a", "b"), ("a", "c")],
        ).collect()
    }
    assert out == {"a|b": 0.0, "a|c": 1.0}


def test_psi_drift_sensitivity(spark):
    from from_superset_to_clickhouse_spark.operators.stats import psi_drift
    import math

    # identical distributions -> psi == 0 exactly (same bins, same
    # proportions)
    rows = [("ref", float(i % 10) * 10 + 5) for i in range(100)] + [
        ("cur", float(i % 10) * 10 + 5) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "s string, v double")
    r = psi_drift(
        df, "v", F.col("s"), n_bins=10, lo=0.0, hi=100.0
    ).first()
    assert r["psi"] == 0.0 and r["n_ref"] == 100 and r["n_cur"] == 100

    # hard shift: ref mass in bin 0, cur mass in bin 9 -> large psi;
    # hand value: p=1 vs eps both ways => 2 * (1-1e-6)*ln(1/1e-6)
    rows = [("ref", 5.0)] * 50 + [("cur", 95.0)] * 50
    r = psi_drift(
        spark.createDataFrame(rows, "s string, v double"),
        "v", F.col("s"), n_bins=10, lo=0.0, hi=100.0,
    ).first()
    want = 2 * (1 - 1e-6) * math.log(1 / 1e-6)
    assert abs(r["psi"] - round(want, 6)) < 1e-6

    # moderate drift: 20% of mass moves one bin -> psi in the
    # "drifting" band, grouped path
    rows = (
        [("g1", "ref", 5.0)] * 50 + [("g1", "ref", 15.0)] * 50
        + [("g1", "cur", 5.0)] * 30 + [("g1", "cur", 15.0)] * 70
        + [("g2", "ref", 5.0)] * 10 + [("g2", "cur", 5.0)] * 10
    )
    out = {
        r["g"]: r["psi"]
        for r in psi_drift(
            spark.createDataFrame(rows, "g string, s string, v double"),
            "v", F.col("s"), n_bins=10, lo=0.0, hi=100.0,
            group_cols=["g"],
        ).collect()
    }
    w = (0.3 - 0.5) * math.log(0.3 / 0.5) + (0.7 - 0.5) * math.log(0.7 / 0.5)
    assert abs(out["g1"] - round(w, 6)) < 1e-6
    assert out["g2"] == 0.0

    # out-of-range values clamp to edge bins rather than vanish
    rows = [("ref", -99.0)] * 10 + [("cur", 999.0)] * 10
    r = psi_drift(
        spark.createDataFrame(rows, "s string, v double"),
        "v", F.col("s"), n_bins=10, lo=0.0, hi=100.0,
    ).first()
    assert r["psi"] > 20  # full mass eps-vs-1 in two bins


def test_haversine_known_distances(spark):
    from from_superset_to_clickhouse_spark.operators.geo import haversine_km

    df = spark.createDataFrame(
        [
            # London -> Paris ~ 343.5 km
            (51.5074, -0.1278, 48.8566, 2.3522, 330.0, 360.0),
            # identical points -> 0
            (10.0, 20.0, 10.0, 20.0, 0.0, 0.0),
            # antipodes -> ~ half circumference (~20015 km)
            (0.0, 0.0, 0.0, 180.0, 20000.0, 20030.0),
        ],
        "la1 double, lo1 double, la2 double, lo2 double, lo double, hi double",
    )
    rows = df.select(
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")).alias("d"),
        "lo", "hi",
    ).collect()
    for r in rows:
        assert r["lo"] <= r["d"] <= r["hi"], r


def test_neighbor_pairs_grid_exact_vs_bruteforce(spark):
    import itertools
    import math
    import random

    from from_superset_to_clickhouse_spark.operators.geo import (
        neighbor_pairs_grid,
    )

    rng = random.Random(7)
    pts = [
        (i, rng.uniform(-60, 60), rng.uniform(-180, 180)) for i in range(80)
    ]
    # force an antimeridian-wrap pair and a high-latitude pair
    pts += [(100, 10.0, 179.9), (101, 10.0, -179.9)]
    pts += [(102, 59.5, 30.0), (103, 59.5, 36.0)]  # ~338 km at lat 59.5
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        (r["id_a"], r["id_b"])
        for r in neighbor_pairs_grid(
            df, "id", "lat", "lon", 500.0, max_abs_lat=60.0
        ).collect()
    }

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[1], a[2], b[1], b[2]))
        x = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0088 * math.asin(math.sqrt(min(x, 1.0)))

    want = {
        (a[0], b[0])
        for a, b in itertools.combinations(sorted(pts), 2)
        if round(hav(a, b), 3) <= 500.0
    }
    assert got == want
    assert (100, 101) in got  # wrap pair survived the modular ring join
    assert (102, 103) in got  # high-lat pair needs the widened lon steps


def test_grid_params_coverage_and_guard(spark):
    import pytest as _pt

    from from_superset_to_clickhouse_spark.operators.geo import (
        grid_params,
        neighbor_pairs_grid,
        KM_PER_LAT_DEG,
    )
    import math

    for radius, maxlat in ((500.0, 60.0), (100.0, 45.0), (1000.0, 30.0)):
        cell, ls, lo = grid_params(radius, maxlat)
        assert cell * ls >= radius / KM_PER_LAT_DEG - 1e-9
        assert cell * lo >= radius / (
            KM_PER_LAT_DEG * math.cos(math.radians(maxlat))
        ) - 1e-9
        assert abs(round(360.0 / cell) - 360.0 / cell) < 1e-9

    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lat double, lon double")
    with _pt.raises(ValueError, match="ring"):
        neighbor_pairs_grid(df, "id", "lat", "lon", 9000.0, max_abs_lat=80.0)


def test_limit_by_offset_and_order(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        limit_by,
    )
    from pyspark.sql import functions as F

    rows = [("a", i, 100 - i) for i in range(5)] + [("b", 9, 1)]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    top2 = limit_by(df, ["g"], [F.col("v").desc(), F.col("k")], n=2)
    got = {(r.g, r.k) for r in top2.collect()}
    assert got == {("a", 0), ("a", 1), ("b", 9)}
    # LIMIT 2 OFFSET 1 BY g: skip the top row of each group
    mid = limit_by(df, ["g"], [F.col("v").desc(), F.col("k")], n=2, offset=1)
    got = {(r.g, r.k) for r in mid.collect()}
    assert got == {("a", 1), ("a", 2)}
    assert "_rn" not in top2.columns


def test_with_totals_two_group_cols(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        with_totals,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("x", "p", 1), ("x", "q", 2), ("y", "p", 4)],
        "a string, b string, v long",
    )
    out = with_totals(df, ["a", "b"], {"s": F.sum("v")}).collect()
    # 3 full-grouping rows + 1 totals row; NO intermediate rollup level
    assert len(out) == 4
    totals = [r for r in out if r.is_totals]
    assert len(totals) == 1 and totals[0].s == 7
    assert totals[0].a is None and totals[0].b is None
    full = {(r.a, r.b): r.s for r in out if not r.is_totals}
    assert full == {("x", "p"): 1, ("x", "q"): 2, ("y", "p"): 4}


def test_arg_extremes_deterministic_ties(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        arg_max_expr,
        arg_min_expr,
    )
    from pyspark.sql import functions as F

    # two rows tie on v: the arg field itself is the struct tiebreak,
    # so argmax takes the larger key and argmin the smaller
    df = spark.createDataFrame(
        [(1, 10.0, 7), (1, 10.0, 3), (1, 1.0, 99)], "g long, v double, k long"
    )
    row = (
        df.groupBy("g")
        .agg(
            arg_max_expr(F.col("k"), F.col("v")).alias("amax"),
            arg_min_expr(F.col("k"), F.col("v")).alias("amin"),
        )
        .collect()[0]
    )
    assert row.amax == 7  # tie on v=10 broken by max k
    assert row.amin == 99  # unique min v=1
    # explicit tiebreak column flips the tie winner
    row2 = (
        df.groupBy("g")
        .agg(
            arg_max_expr(F.col("k"), F.col("v"), -F.col("k")).alias("amax")
        )
        .collect()[0]
    )
    assert row2.amax == 3


def test_g711_codec_properties():
    import numpy as np

    from from_superset_to_clickhouse_spark.operators.multimodal import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    # byte-level idempotence: every decoded byte re-encodes to itself
    # (mu-law has the one published +0/-0 alias)
    bs = np.arange(256, dtype=np.uint8)
    assert int((mulaw_compress(mulaw_expand(bs)) != bs).sum()) <= 1
    assert int((alaw_compress(alaw_expand(bs)) != bs).sum()) == 0
    # representable amplitudes survive the roundtrip exactly
    for s in range(8):
        for m in range(16):
            a_mu = 4 * (((2 * m + 33) << s) - 33)
            if 0 < a_mu <= 32767:
                x = np.array([a_mu, -a_mu], np.int16)
                assert (mulaw_expand(mulaw_compress(x)) == x).all()
            a_al = 8 * ((2 * m + 1) if s == 0 else ((2 * m + 33) << (s - 1)))
            if 0 < a_al <= 32767:
                x = np.array([a_al, -a_al], np.int16)
                assert (alaw_expand(alaw_compress(x)) == x).all()
    # quantization error bounded by half the top-segment step (512)
    xs = np.arange(-32760, 32760, 11, dtype=np.int16)
    err = np.abs(
        mulaw_expand(mulaw_compress(xs)).astype(int)
        - np.clip(xs.astype(int), -32636, 32636)
    )
    assert err.max() <= 512
    err_a = np.abs(alaw_expand(alaw_compress(xs)).astype(int) - xs.astype(int))
    assert err_a.max() <= 512


def test_g711_wav_container_roundtrip():
    import numpy as np

    from from_superset_to_clickhouse_spark.operators.multimodal import (
        decode_wav_samples_any,
        encode_wav_g711,
        encode_wav_pcm,
    )

    amp = 4 * (((2 * 7 + 33) << 3) - 33)  # representable mu amplitude
    sig = np.array([amp, amp, -amp, -amp] * 5, np.int16)
    for law in ("mu", "a"):
        a_amp = amp if law == "mu" else 8 * ((2 * 7 + 33) << 2)
        s = np.array([a_amp, -a_amp] * 6, np.int16)
        rate, ch, frames = decode_wav_samples_any(
            encode_wav_g711(s, law=law, sample_rate=16000)
        )
        assert (rate, ch) == (16000, 1)
        assert (frames[:, 0] == s).all()
    # PCM passthrough still works through the any-format decoder
    rate, ch, frames = decode_wav_samples_any(encode_wav_pcm(sig, 8000))
    assert (frames[:, 0] == sig).all()
    # unknown format tag quarantines
    import pytest as _pt

    bad = bytearray(encode_wav_g711(sig, law="mu"))
    bad[20] = 99  # format tag byte
    with _pt.raises(ValueError, match="unsupported"):
        decode_wav_samples_any(bytes(bad))


def test_adam7_roundtrip_and_pass_structure():
    import itertools

    from from_superset_to_clickhouse_spark.operators.multimodal import (
        _adam7_passes,
        decode_png_pixels,
        encode_png_interlaced,
    )

    # bit-exact roundtrip across dims (incl. empty-pass sizes),
    # channels, and all five filter types with pass-local priors
    for w, h, ch in itertools.product((1, 3, 8, 9, 17), (1, 2, 8, 10), (1, 3)):
        px = bytes((11 * k + 7) % 256 for k in range(w * h * ch))
        for ft in range(5):
            assert decode_png_pixels(
                encode_png_interlaced(w, h, ch, px, ft)
            ) == (w, h, ch, px)
    # 1x1: only pass 1 transmits; pass pixel counts tile the grid
    passes = list(_adam7_passes(1, 1))
    assert sum(pw * ph for pw, ph, *_ in passes) == 1
    assert passes[0][:2] == (1, 1)
    for w, h in ((8, 8), (13, 9), (5, 3)):
        assert sum(pw * ph for pw, ph, *_ in _adam7_passes(w, h)) == w * h


def test_adam7_truncated_pass_quarantines():
    import pytest as _pt

    from from_superset_to_clickhouse_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png_interlaced,
    )
    import struct as _struct
    import zlib as _zlib

    px = bytes(range(64))
    p = encode_png_interlaced(8, 8, 1, px)
    # corrupt: re-deflate with one pass row missing -> length mismatch
    sig_end = 8
    # locate IDAT chunk
    pos = sig_end
    while p[pos + 4 : pos + 8] != b"IDAT":
        (ln,) = _struct.unpack(">I", p[pos : pos + 4])
        pos += 12 + ln
    (ln,) = _struct.unpack(">I", p[pos : pos + 4])
    raw = _zlib.decompress(p[pos + 8 : pos + 8 + ln])
    clipped = _zlib.compress(raw[:-3])
    from from_superset_to_clickhouse_spark.operators.multimodal import (
        _png_chunk,
    )

    bad = p[:pos] + _png_chunk(b"IDAT", clipped) + p[pos + 12 + ln :]
    with _pt.raises(ValueError, match="IDAT"):
        decode_png_pixels(bad)


def test_target_encode_loo_no_leakage(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        target_encode_loo,
    )

    # category a: targets 10, 20; category b: singleton 100
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 100.0)], "c string, y double"
    )
    mu = (10 + 20 + 100) / 3.0
    rows = {(r.c, r.y): r.encoded for r in
            target_encode_loo(df, "c", "y", smoothing=2.0).collect()}
    # row (a,10): uses only the OTHER a-row (20) plus 2 pseudo-obs of mu
    assert rows[("a", 10.0)] == round((20 + 2 * mu) / 3.0, 6)
    assert rows[("a", 20.0)] == round((10 + 2 * mu) / 3.0, 6)
    # singleton: pure smoothed prior = mu
    assert rows[("b", 100.0)] == round(mu, 6)


def test_feature_hash_properties(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        feature_hash,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha"), (3, "")],
        "id long, text string",
    )
    rows = [(r.id, r.bucket, r.weight) for r in
            feature_hash(df, "id", "text", n_buckets=16).collect()]
    by_doc = {}
    for i, b, w in rows:
        by_doc.setdefault(i, {})[b] = w
    # replay the md5 hashes independently to predict the vectors
    import hashlib

    def bucket(w):
        return int(hashlib.md5(f"fh:{w}".encode()).hexdigest()[:8], 16) % 16

    def sgn(w):
        h = int(hashlib.md5(f"fs:{w}".encode()).hexdigest()[:8], 16)
        return 1 if h % 2 == 0 else -1

    want1 = {}
    for w, c in (("alpha", 2), ("beta", 1)):
        want1[bucket(w)] = want1.get(bucket(w), 0) + sgn(w) * c
    want1 = {b: w for b, w in want1.items() if w != 0}
    assert by_doc[1] == want1
    assert by_doc[2] == {bucket("alpha"): sgn("alpha")}
    # empty doc -> no rows
    assert 3 not in by_doc
    # buckets bounded
    assert all(0 <= b < 16 for _, b, _ in rows)


def test_exif_roundtrip_both_orders_and_quarantine():
    import pytest as _pt

    from from_superset_to_clickhouse_spark.operators.multimodal import (
        decode_exif,
        encode_jpeg,
        encode_jpeg_exif,
    )

    for bo in ("II", "MM"):
        p = encode_jpeg_exif(10, 20, 6, "mk", "cam long name", 
                             "2024:02:29 23:59:59", byte_order=bo)
        assert decode_exif(p) == (
            bo, 6, "mk", "cam long name", "2024:02:29 23:59:59"
        )
    # short ASCII (<= 4 bytes incl. NUL) is stored inline: "mk" fits
    p = encode_jpeg_exif(1, 1, 1, "abc", "x", "2024:01:01 00:00:00")
    assert decode_exif(p)[2] == "abc"
    # plain JPEG without APP1 quarantines
    with _pt.raises(ValueError, match="APP1"):
        decode_exif(encode_jpeg(5, 5))
    # truncated TIFF quarantines rather than returning garbage
    p = bytearray(encode_jpeg_exif(1, 1, 1, "maker", "model", "2024:01:01 00:00:00"))
    with _pt.raises(ValueError):
        decode_exif(bytes(p[:30]))


def test_ipv4_cidr_parsing(spark):
    from from_superset_to_clickhouse_spark.functions.scalar import (
        cidr_range,
        ipv4_to_long,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("0.0.0.0",), ("255.255.255.255",), ("10.1.2.3",), ("junk",)],
        "ip string",
    )
    got = [r.n for r in df.select(ipv4_to_long("ip").alias("n")).collect()]
    # 10.1.2.3 = 10*2^24 + 1*2^16 + 2*2^8 + 3
    assert got == [0, 4294967295, 167838211, None]
    c = spark.createDataFrame(
        [("10.1.0.0/16",), ("192.168.1.128/25",), ("0.0.0.0/0",)],
        "cidr string",
    )
    lo, hi = cidr_range("cidr")
    rows = c.select(lo.alias("lo"), hi.alias("hi")).collect()
    assert (rows[0].lo, rows[0].hi - rows[0].lo) == (167772160 + 65536, 65536)
    # /25 block of 128 addresses, base masked DOWN to the boundary
    assert rows[1].hi - rows[1].lo == 128 and rows[1].lo % 128 == 0
    assert (rows[2].lo, rows[2].hi) == (0, 4294967296)


def test_flesch_known_text(spark):
    from from_superset_to_clickhouse_spark.operators.text import (
        flesch_reading_ease,
    )

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "")],
        "id long, text string",
    )
    rows = {r.id: r for r in flesch_reading_ease(df, "id", "text").collect()}
    r = rows[1]
    # 6 one-syllable words, 2 sentences
    assert (r.n_words, r.n_sentences, r.n_syllables) == (6, 2, 6)
    assert r.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 6)
    assert rows[2].flesch is None and rows[2].n_words == 0


def test_gini_known_distributions(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        gini_coefficient,
    )

    rows = [("eq", 5.0)] * 4 + [("one", 0.0), ("one", 0.0), ("one", 0.0),
                                ("one", 10.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r.gini for r in gini_coefficient(df, "v", ["g"]).collect()}
    assert got["eq"] == 0.0            # perfect equality
    assert got["one"] == 0.75          # one holder: (n-1)/n


def test_jsd_bounds(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        js_divergence,
    )
    from pyspark.sql import functions as F
    import math

    # identical distributions -> 0; disjoint supports -> ln 2
    same = [("x", float(v % 10) * 50.0, s) for v in range(40)
            for s in ("ref", "cur")]
    disj = [("y", 10.0, "ref")] * 20 + [("y", 400.0, "cur")] * 20
    df = spark.createDataFrame(same + disj, "g string, value double, side string")
    got = {r.g: r.jsd for r in js_divergence(
        df, "value", F.col("side"), group_cols=["g"]).collect()}
    assert got["x"] == 0.0
    assert abs(got["y"] - round(math.log(2.0), 6)) < 1e-9


def test_mann_whitney_hand_case(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.stats import (
        mann_whitney_u,
    )
    from pyspark.sql import functions as F

    rows = [(v, "a") for v in (1.0, 2.0, 4.0)] + [
        (v, "b") for v in (3.0, 5.0, 6.0)
    ]
    df = spark.createDataFrame(rows, "v double, side string")
    r = mann_whitney_u(df, "v", F.col("side")).collect()[0]
    # ranks of a = 1,2,4 -> R_a=7, U = 7 - 3*4/2 = 1
    assert (r.n_a, r.n_b, r.u) == (3, 3, 1.0)
    sigma = math.sqrt(9 * 7 / 12)
    assert abs(r.z - round((1 - 4.5 + 0.5) / sigma, 6)) < 1e-9
    # ties: all values equal -> U = n_a*n_b/2, z undefined (sigma 0)
    tied = spark.createDataFrame(
        [(5.0, "a")] * 3 + [(5.0, "b")] * 3, "v double, side string"
    )
    rt = mann_whitney_u(tied, "v", F.col("side")).collect()[0]
    assert rt.u == 4.5  # midranks 3.5 each -> R_a = 10.5 - 6 = 4.5
    assert rt.z is None and rt.p_value is None  # sigma 0: no test


def test_bh_fdr_replay(spark):
    from from_superset_to_clickhouse_spark.operators.stats import bh_fdr

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205]
    df = spark.createDataFrame([(f"t{i}", p) for i, p in enumerate(ps)],
                               "test string, p double")
    got = {r.test: (r.rank, r.q_value, r.rejected)
           for r in bh_fdr(df, "p", alpha=0.05,
                           tiebreak_cols=["test"]).collect()}
    # python replay of the suffix-min
    m = len(ps)
    q_raw = [m * p / (i + 1) for i, p in enumerate(ps)]
    q = [0.0] * m
    run = float("inf")
    for i in range(m - 1, -1, -1):
        run = min(run, q_raw[i])
        q[i] = min(run, 1.0)
    import math
    for i, p in enumerate(ps):
        rank, qv, rej = got[f"t{i}"]
        assert rank == i + 1
        assert abs(qv - math.floor(q[i] * 1e6 + 0.5) / 1e6) < 1e-12
        assert rej == (qv <= 0.05)
    # suffix-min shape: q plateaus at 0.0672 from t2 through t4, so
    # only t0/t1 clear alpha = 0.05
    assert got["t1"][2] and not got["t2"][2]


def test_ndcg_perfect_and_reversed(spark):
    from from_superset_to_clickhouse_spark.operators.similarity import (
        ndcg_at_k,
    )

    rels = [3.0, 2.0, 1.0, 0.0]
    perfect = [(1, d, 100.0 - d, rels[d]) for d in range(4)]
    reverse = [(2, d, float(d), rels[d]) for d in range(4)]
    df = spark.createDataFrame(perfect + reverse,
                               "q long, doc long, score double, rel double")
    got = {r.query: r for r in ndcg_at_k(
        df, "q", "score", "rel", k=10, tiebreak_col="doc").collect()}
    assert got[1].ndcg == 1.0
    assert got[2].ndcg < 1.0 and got[2].dcg < got[2].idcg
    import math
    idcg = sum((2 ** r - 1) / math.log2(i + 2) for i, r in enumerate(rels))
    assert abs(got[1].idcg - round(idcg, 6)) < 1e-9


def test_theil_sen_robust_to_outlier(spark):
    from from_superset_to_clickhouse_spark.operators.stats import theil_sen

    # clean slope 3 with one wrecked point; OLS would tip, TS holds
    ys = [10.0 + 3.0 * x for x in range(15)]
    ys[7] = 500.0
    rows = [("k", float(x), ys[x]) for x in range(15)]
    df = spark.createDataFrame(rows, "key string, x double, y double")
    r = theil_sen(df, "key", "x", "y").collect()[0]
    # python replay: median of pairwise slopes, then median intercept
    slopes = sorted(
        (ys[j] - ys[i]) / (j - i)
        for i in range(15) for j in range(i + 1, 15)
    )
    m = len(slopes)
    med = (slopes[(m - 1) // 2] + slopes[m // 2]) / 2.0
    res = sorted(ys[i] - med * i for i in range(15))
    icpt = (res[(15 - 1) // 2] + res[15 // 2]) / 2.0
    assert r.n_pairs == m == 105
    assert abs(r.slope - round(med, 6)) < 1e-9
    assert abs(r.intercept - round(icpt, 6)) < 1e-9
    assert abs(r.slope - 3.0) < 0.2  # the outlier moved OLS, not TS


def test_mann_kendall_trend_and_ties(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        mann_kendall,
    )

    ys = [1.0, 2.0, 2.0, 3.0, 5.0, 4.0, 6.0, 7.0, 7.0, 9.0]
    rows = [("k", float(t), ys[t]) for t in range(10)]
    df = spark.createDataFrame(rows, "key string, t double, y double")
    r = mann_kendall(df, "key", "t", "y").collect()[0]
    # python replay with tie correction
    s = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(10) for j in range(i + 1, 10)
    )
    from collections import Counter
    n = 10
    tsum = sum(c * (c - 1) * (2 * c + 5) for c in Counter(ys).values())
    var = (n * (n - 1) * (2 * n + 5) - tsum) / 18.0
    z = (s - 1) / var ** 0.5
    assert r.s == s and r.n == n
    assert abs(r.var_s - round(var, 6)) < 1e-9
    assert abs(r.z - round(z, 6)) < 1e-9
    assert r.p_value < 0.01  # clearly increasing


def test_mann_kendall_flat_series_zero_z(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        mann_kendall,
    )

    rows = [("k", float(t), 5.0) for t in range(8)]
    df = spark.createDataFrame(rows, "key string, t double, y double")
    r = mann_kendall(df, "key", "t", "y").collect()[0]
    # every pair tied: S = 0, Var(S) = 0 -> no z/p, not a crash
    assert r.s == 0 and r.z is None and r.p_value is None


def _pav(ys):
    """Reference pool-adjacent-violators: (sum, count) block stack."""
    blocks = []
    for y in ys:
        blocks.append([y, 1])
        while len(blocks) > 1 and (
            blocks[-2][0] / blocks[-2][1] > blocks[-1][0] / blocks[-1][1]
        ):
            s, c = blocks.pop()
            blocks[-1][0] += s
            blocks[-1][1] += c
    out = []
    for s, c in blocks:
        out.extend([s / c] * c)
    return out


def test_isotonic_fit_equals_pav(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        isotonic_fit,
    )

    ys = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    rows = [("k", float(x), ys[x]) for x in range(len(ys))]
    df = spark.createDataFrame(rows, "key string, x double, y double")
    got = {r.x: r.fit for r in isotonic_fit(df, "key", "x", "y").collect()}
    want = _pav(ys)
    for x in range(len(ys)):
        assert abs(got[float(x)] - round(want[x], 6)) < 1e-9, x
    # monotone by construction
    fits = [got[float(x)] for x in range(len(ys))]
    assert all(a <= b + 1e-12 for a, b in zip(fits, fits[1:]))
    # mean-preserving (sum of fit == sum of y, a PAV invariant)
    assert abs(sum(fits) - sum(ys)) < 1e-4


def test_isotonic_fit_property_random(spark):
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        isotonic_fit,
    )

    rng = random.Random(42)
    for trial in range(3):
        ys = [rng.uniform(0, 100) for _ in range(20)]
        rows = [(f"k{trial}", float(x), ys[x]) for x in range(20)]
        df = spark.createDataFrame(
            rows, "key string, x double, y double")
        got = {r.x: r.fit
               for r in isotonic_fit(df, "key", "x", "y").collect()}
        want = _pav(ys)
        for x in range(20):
            assert abs(got[float(x)] - round(want[x], 6)) < 1e-6, (trial, x)


def test_bucketed_row_number_matches_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    from from_superset_to_clickhouse_spark.operators.relational import (
        bucketed_row_number,
    )

    rng = random.Random(7)
    rows = [(f"g{j % 3}", i, float(rng.randint(0, 40)))  # heavy ties
            for j in range(3) for i in range(60)]
    df = spark.createDataFrame(rows, "grp string, id int, v double")
    # keyed form vs plain window
    got = {
        (r.grp, r.id): r.rn
        for r in bucketed_row_number(
            df, "v", ["id"], part_cols=["grp"], buckets=8
        ).collect()
    }
    w = W.partitionBy("grp").orderBy("v", "id")
    want = {
        (r.grp, r.id): r.rn
        for r in df.withColumn("rn", SF.row_number().over(w)).collect()
    }
    assert got == want
    # global form (no partition cols) vs single window
    got_g = {
        (r.grp, r.id): r.rn
        for r in bucketed_row_number(
            df, "v", ["grp", "id"], part_cols=[], buckets=8
        ).collect()
    }
    wg = W.orderBy("v", "grp", "id")
    want_g = {
        (r.grp, r.id): r.rn
        for r in df.withColumn("rn", SF.row_number().over(wg)).collect()
    }
    assert got_g == want_g


def test_bucketed_row_number_constant_value(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        bucketed_row_number,
    )

    df = spark.createDataFrame(
        [("a", i, 5.0) for i in range(10)], "grp string, id int, v double"
    )
    got = sorted(
        r.rn for r in bucketed_row_number(
            df, "v", ["id"], part_cols=["grp"], buckets=4
        ).collect()
    )
    assert got == list(range(1, 11))  # min==max degenerate bucket


def test_quantile_normalize_reference(spark):
    import math
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        quantile_normalize,
    )

    rng = random.Random(13)
    groups = {
        "a": [(i, float(rng.randint(0, 1000))) for i in range(25)],
        "b": [(i, float(rng.randint(500, 2000))) for i in range(40)],
        "c": [(i, float(rng.randint(0, 100))) for i in range(10)],
    }
    rows = [(g, i, v) for g, rs in groups.items() for i, v in rs]
    df = spark.createDataFrame(rows, "grp string, id int, v double")
    out = {
        (r.grp, r.id): r.qnorm
        for r in quantile_normalize(df, "grp", "id", "v", buckets=8
                                    ).collect()
    }
    pooled = sorted(v for rs in groups.values() for _, v in rs)
    big_n = len(pooled)
    for g, rs in groups.items():
        n = len(rs)
        order = sorted(rs, key=lambda t: (t[1], t[0]))
        for r, (i, v) in enumerate(order, 1):
            h = (r - 1) * (big_n - 1) / (n - 1) if n > 1 else (big_n - 1) / 2
            lo = int(math.floor(h))
            frac = h - lo
            hi = min(lo + 1, big_n - 1)
            want = pooled[lo] * (1 - frac) + pooled[hi] * frac
            want = math.floor(want * 1e6 + 0.5) / 1e6
            assert abs(out[(g, i)] - want) < 1e-9, (g, i)
    # equal-size groups end up with IDENTICAL sorted distributions
    d2 = spark.createDataFrame(
        [("x", i, float((i * 37) % 50)) for i in range(20)]
        + [("y", i, float(1000 + (i * 91) % 400)) for i in range(20)],
        "grp string, id int, v double",
    )
    o2 = quantile_normalize(d2, "grp", "id", "v", buckets=4).collect()
    xs = sorted(r.qnorm for r in o2 if r.grp == "x")
    ys = sorted(r.qnorm for r in o2 if r.grp == "y")
    assert xs == ys


def test_weighted_quantile_reference(spark):
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        weighted_quantile,
    )

    rng = random.Random(29)
    rows = [
        (f"k{j}", i, float(rng.randint(0, 500)), rng.randint(1, 9))
        for j in range(3)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "k string, id int, v double, w int")
    got = {
        (r.k, r.q): (r.quantile, r.total_weight)
        for r in weighted_quantile(df, "k", "id", "v", "w",
                                   buckets=8).collect()
    }
    qs = [(1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"), (9, 10, "p90")]
    for j in range(3):
        key = f"k{j}"
        sub = sorted(
            [(v, i, w) for (k, i, v, w) in rows if k == key],
            key=lambda t: (t[0], t[1]),
        )
        tw = sum(w for _, _, w in sub)
        for num, den, lbl in qs:
            cw = 0
            for v, i, w in sub:
                cw += w
                if cw * den >= num * tw:
                    assert got[(key, lbl)] == (v, tw), (key, lbl)
                    break
    # exactly one row per (key, q)
    assert len(got) == 12


def test_weighted_quantile_unit_weights_match_lower_quantile(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        weighted_quantile,
    )

    df = spark.createDataFrame(
        [("a", i, float(i), 1) for i in range(1, 101)],
        "k string, id int, v double, w int",
    )
    got = {
        r.q: r.quantile
        for r in weighted_quantile(df, "k", "id", "v", "w").collect()
    }
    # with unit weights on 1..100 the first row reaching q*100 is q*100
    assert got == {"p25": 25.0, "p50": 50.0, "p75": 75.0, "p90": 90.0}


def test_time_decay_agg_reference(spark):
    import datetime
    import math

    from from_superset_to_clickhouse_spark.operators.temporal import (
        time_decay_agg,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for j, key in enumerate(["a", "b"]):
        for i in range(50):
            rows.append(
                (key, base + datetime.timedelta(hours=i * 3 + j),
                 float((i * 7 + j * 11) % 40))
            )
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r.k: r for r in time_decay_agg(
        df, "k", "ts", "v", tau_seconds=86400.0).collect()}
    for key in ("a", "b"):
        sub = [(ts, v) for k, ts, v in rows if k == key]
        ref = max(ts for ts, _ in sub)
        dc = sum(math.exp(-((ref - ts).total_seconds()) / 86400.0)
                 for ts, _ in sub)
        ds = sum(v * math.exp(-((ref - ts).total_seconds()) / 86400.0)
                 for ts, v in sub)
        r = got[key]
        assert r.n == 50
        assert r.ref_ts == ref
        assert abs(r.decayed_count - dc) < 0.01
        assert abs(r.decayed_sum - ds) < 0.01
        assert abs(r.decayed_avg - ds / dc) < 1e-5
    # newest row dominates with tiny tau: avg -> newest value
    tiny = {r.k: r.decayed_avg for r in time_decay_agg(
        df, "k", "ts", "v", tau_seconds=1.0).collect()}
    for key in ("a", "b"):
        sub = [(ts, v) for k, ts, v in rows if k == key]
        newest_v = max(sub)[1]
        assert abs(tiny[key] - newest_v) < 1e-6


def test_lttb_downsample_reference(spark):
    import random

    from from_superset_to_clickhouse_spark.operators.temporal import (
        lttb_downsample,
    )

    rng = random.Random(41)
    rows = [("a", float(i), float(rng.randint(0, 1000)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = (
        lttb_downsample(df, "k", "x", "y", n_out=12)
        .orderBy("x")
        .collect()
    )
    assert len(got) == 12
    assert got[0].x == 0.0 and got[-1].x == 59.0

    # independent reference: classic centroid-division LTTB
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    n, n_out = 60, 12
    nb, m = n_out - 2, n - 2
    sel, prev = [0], 0
    for b in range(nb):
        members = [1 + j for j in range(m) if (j * nb) // m == b]
        if b < nb - 1:
            nxt = [1 + j for j in range(m) if (j * nb) // m == b + 1]
            cx = sum(xs[j] for j in nxt) / len(nxt)
            cy = sum(ys[j] for j in nxt) / len(nxt)
        else:
            cx, cy = xs[n - 1], ys[n - 1]
        ax, ay = xs[prev], ys[prev]
        best, best_area = members[0], -1.0
        for p in members:
            area = abs((ax - cx) * (ys[p] - ay) - (ax - xs[p]) * (cy - ay))
            if area > best_area:
                best_area, best = area, p
        sel.append(best)
        prev = best
    sel.append(n - 1)
    assert [r.x for r in got] == [xs[i] for i in sel]

    # short series pass through whole
    small = spark.createDataFrame(
        [("b", float(i), float(i * i)) for i in range(5)],
        "k string, x double, y double",
    )
    assert lttb_downsample(small, "k", "x", "y", n_out=10).count() == 5


def test_sequence_next_node(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_next_node,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def row(u, i, t):
        return (u, t0 + datetime.timedelta(minutes=i), i, t)

    rows = [
        # u1: view click purchase  -> next purchase at pos 1
        row(1, 0, "view"), row(1, 1, "click"), row(1, 2, "purchase"),
        # u2: chain at END -> NULL next
        row(2, 0, "error"), row(2, 1, "view"), row(2, 2, "click"),
        # u3: no adjacent view->click (interrupted)
        row(3, 0, "view"), row(3, 1, "error"), row(3, 2, "click"),
        # u4: two matches -> FIRST one wins (next = error, not signup)
        row(4, 0, "view"), row(4, 1, "click"), row(4, 2, "error"),
        row(4, 3, "view"), row(4, 4, "click"), row(4, 5, "signup"),
    ]
    df = spark.createDataFrame(
        rows, "u int, ts timestamp, eid int, t string"
    )
    got = {
        r.u: (r.next_event, r.match_pos)
        for r in sequence_next_node(
            df, "u", "ts", "t", ["view", "click"], tiebreak_col="eid"
        ).collect()
    }
    assert got == {1: ("purchase", 1), 2: (None, 2), 4: ("error", 1)}


def test_cohort_retention_matrix(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        cohort_retention,
    )

    mon = datetime.datetime(2024, 1, 1)  # a Monday

    def at(weeks, dow=0):
        return mon + datetime.timedelta(weeks=weeks, days=dow)

    rows = (
        # cohort W0: users 1,2 both active W0; only 1 returns W1
        [(1, at(0)), (2, at(0, 3)), (1, at(1)), (1, at(2)), (2, at(2))]
        # cohort W1: user 3
        + [(3, at(1, 2)), (3, at(3))]
    )
    df = spark.createDataFrame(rows, "u int, ts timestamp")
    got = {
        (r.cohort_week.date().isoformat(), r.offset_weeks):
            (r.active_users, r.cohort_size, r.retention_rate)
        for r in cohort_retention(df, "u", "ts").collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-01", 2)] == (2, 2, 1.0)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert got[("2024-01-08", 2)] == (1, 1, 1.0)
    assert len(got) == 5


def test_touch_attribution(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        touch_attribution,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def row(u, i, t):
        return (u, t0 + datetime.timedelta(minutes=i), i, t)

    rows = [
        # u1: view ... click ... purchase -> first view, last click
        row(1, 0, "view"), row(1, 1, "error"), row(1, 2, "click"),
        row(1, 3, "purchase"),
        # u1 second purchase with no new touch -> same attribution
        row(1, 4, "purchase"),
        # u2: untouched conversion -> NULL/NULL
        row(2, 0, "error"), row(2, 1, "purchase"),
        # u3: single touch click -> click/click
        row(3, 0, "click"), row(3, 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "u int, ts timestamp, eid int, t string"
    )
    got = {
        (r.first_touch, r.last_touch): r.conversions
        for r in touch_attribution(
            df, "u", "ts", "t", ["view", "click"], "purchase",
            tiebreak_col="eid",
        ).collect()
    }
    assert got == {
        ("view", "click"): 2,
        (None, None): 1,
        ("click", "click"): 1,
    }


def test_benford_reference(spark):
    import math
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        benford_test,
    )

    # Benford-distributed sample: v = 10^U, U uniform
    rng = random.Random(71)
    rows = [(10 ** (rng.random() * 4),) for _ in range(4000)]
    df = spark.createDataFrame(rows, "v double")
    got = {r.digit: r for r in benford_test(df, "v").collect()}
    assert set(got) == {str(d) for d in range(1, 10)}
    n_total = sum(r.n for r in got.values())
    assert n_total == 4000
    chi2 = next(iter(got.values())).chi2
    assert all(r.chi2 == chi2 for r in got.values())
    for d in range(1, 10):
        p = math.log10(1 + 1 / d)
        r = got[str(d)]
        assert abs(r.exp_prop - round(p, 6)) < 1e-9
        assert abs(r.obs_prop - p) < 0.05  # conforming sample
    assert chi2 < 30.0
    # uniform sample does NOT conform: chi2 explodes
    uni = spark.createDataFrame(
        [(float(1000 + i),) for i in range(4000)], "v double"
    )
    bad = benford_test(uni, "v").collect()[0].chi2
    assert bad > 100.0


def test_zipf_fit_power_law(spark):
    from from_superset_to_clickhouse_spark.operators.text import zipf_fit

    # synthesize a corpus whose term frequencies are exactly C/rank
    words = [f"w{i:03d}" for i in range(100)]
    docs = []
    for i, wd in enumerate(words):
        freq = max(1, int(1000 / (i + 1)))
        docs.extend([wd] * freq)
    # pack into documents of 50 tokens
    texts = [
        (" ".join(docs[i:i + 50]),) for i in range(0, len(docs), 50)
    ]
    df = spark.createDataFrame(texts, "text string")
    r = zipf_fit(df, "text", top_n=100).collect()[0]
    assert r.n == 100
    assert -1.1 < r.slope < -0.9  # ~ C/rank
    assert r.r2 > 0.99


def test_bootstrap_ci_reference(spark):
    import hashlib
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        bootstrap_ci,
    )

    rng = random.Random(83)
    rows = [("a", i, float(rng.gauss(100, 15))) for i in range(60)] + [
        ("b", i, float(rng.gauss(-5, 2))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k string, id int, v double")
    got = {r.k: r for r in bootstrap_ci(
        df, "k", "id", "v", n_boot=50, lo_rank=2, hi_rank=49).collect()}

    # python replay of the md5 draw contract
    for key in ("a", "b"):
        vals = [v for k, i, v in rows if k == key]
        ids = sorted(i for k, i, v in rows if k == key)
        by_rank = [v for _, v in sorted(
            (i, v) for k, i, v in rows if k == key)]
        n = len(vals)
        means = []
        for b in range(1, 51):
            tot = 0.0
            for s in range(1, n + 1):
                h = hashlib.md5(f"{key}:{b}:{s}".encode()).hexdigest()
                j = int(h[:8], 16) % n + 1
                tot += by_rank[j - 1]
            means.append((round(tot / n, 6), b))
        means.sort()
        r = got[key]
        assert r.n == n
        assert abs(r.mean - sum(vals) / n) < 1e-4
        assert r.ci_lo == means[1][0]   # rank 2
        assert r.ci_hi == means[48][0]  # rank 49
        assert r.ci_lo < r.mean < r.ci_hi


def test_heaps_fit_growth_curve(spark):
    import math
    import random

    from from_superset_to_clickhouse_spark.operators.text import heaps_fit

    # corpus drawn from a Zipf vocabulary -> Heaps exponent in (0,1)
    rng = random.Random(97)
    vocab = [f"w{i:04d}" for i in range(2000)]
    weights = [1.0 / (i + 1) for i in range(2000)]
    tot = sum(weights)
    cum = []
    acc = 0.0
    for w in weights:
        acc += w / tot
        cum.append(acc)

    def draw():
        u = rng.random()
        lo, hi = 0, len(cum) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cum[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return vocab[lo]

    docs = [
        (d, " ".join(draw() for _ in range(80))) for d in range(120)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = heaps_fit(df, "doc_id", "text").collect()[0]
    assert r.n == 120
    assert 0.3 < r.slope < 0.95
    assert r.r2 > 0.98

    # python replay of N/V running totals for the first few ranks
    seen = set()
    big_n = 0
    pts = []
    for d, text in docs:
        tokens = text.split()
        big_n += len(tokens)
        seen.update(tokens)
        pts.append((big_n, len(seen)))
    # closed-form least squares over log-log
    xs = [math.log10(a) for a, _ in pts]
    ys = [math.log10(b) for _, b in pts]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert abs(r.slope - slope) < 1e-4


def test_rolling_corr_reference(spark):
    import datetime
    import math

    from from_superset_to_clickhouse_spark.operators.temporal import (
        rolling_corr,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        x = 500.0 + 15 * math.sin(i / 3)
        y = 480.0 + 12 * math.sin(i / 3 + 0.2) + (i % 5)
        rows.append((t0 + datetime.timedelta(days=i), x, y))
    df = spark.createDataFrame(rows, "ts timestamp, x double, y double")
    got = {r.ts: (r.n_window, r.roll_corr)
           for r in rolling_corr(df, "ts", "x", "y", 7).collect()}
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    for i in range(29, 6, -5):
        wx, wy = xs[i - 6:i + 1], ys[i - 6:i + 1]
        mx, my = sum(wx) / 7, sum(wy) / 7
        cov = sum((a - mx) * (b - my) for a, b in zip(wx, wy))
        vx = sum((a - mx) ** 2 for a in wx)
        vy = sum((b - my) ** 2 for b in wy)
        want = cov / math.sqrt(vx * vy)
        n, got_c = got[rows[i][0]]
        assert n == 7
        assert abs(got_c - want) < 1e-5, i
    assert got[rows[0][0]][0] == 1  # first row: window of one


def test_sparkbar_rendering(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sparkbar,
    )

    rows = []
    for slot, cnt in [(0, 1), (1, 4), (2, 8), (3, 2)]:
        rows += [("a", slot)] * cnt
    rows += [("b", 5)] * 3  # single slot -> full block
    df = spark.createDataFrame(rows, "k string, slot int")
    got = {r.k: (r.n_slots, r.bar) for r in sparkbar(df, "k", "slot").collect()}
    # levels: 1*7//8=0, 4*7//8=3, 8*7//8=7, 2*7//8=1
    assert got["a"] == (4, "▁▄█▂")
    assert got["b"] == (1, "█")


def test_platt_scale_recovers_sigmoid(spark):
    import math
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        platt_scale,
    )

    # labels drawn from sigmoid(2x - 1): the fit should recover (2, -1)
    rng = random.Random(113)
    rows = []
    for _ in range(4000):
        x = rng.uniform(-3, 3)
        p = 1 / (1 + math.exp(-(2 * x - 1)))
        rows.append((x, 1 if rng.random() < p else 0))
    df = spark.createDataFrame(rows, "x double, y int")
    r = platt_scale(df, "x", "y", iters=6).collect()[0]
    assert r.n == 4000
    assert abs(r.a - 2.0) < 0.2
    assert abs(r.b + 1.0) < 0.2
    # log loss beats the uninformed baseline (entropy of base rate)
    base = sum(y for _, y in rows) / 4000
    h = -(base * math.log(base) + (1 - base) * math.log(1 - base))
    assert r.log_loss < h - 0.1


def test_markov_transitions(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        markov_transitions,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def row(u, minute, t):
        return (u, t0 + datetime.timedelta(minutes=minute), minute, t)

    rows = [
        # u1 session 1: view -> click -> purchase
        row(1, 0, "view"), row(1, 1, "click"), row(1, 2, "purchase"),
        # u1 session 2 (90 min later): view -> error ; boundary pair
        # (purchase -> view) must NOT count
        row(1, 92, "view"), row(1, 93, "error"),
        # u2: view -> click
        row(2, 0, "view"), row(2, 1, "click"),
    ]
    df = spark.createDataFrame(
        rows, "u int, ts timestamp, eid int, t string"
    )
    got = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in markov_transitions(
            df, "u", "ts", "t", gap_minutes=30, tiebreak_col="eid"
        ).collect()
    }
    assert got[("view", "click")] == (2, round(2 / 3, 6))
    assert got[("view", "error")] == (1, round(1 / 3, 6))
    assert got[("click", "purchase")] == (1, 1.0)  # sole click exit
    assert ("purchase", "view") not in got
    assert len(got) == 3


def _avg_ranks(vs):
    order = sorted(range(len(vs)), key=lambda i: vs[i])
    ranks = [0.0] * len(vs)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and vs[order[j + 1]] == vs[order[i]]:
            j += 1
        avg = (i + j) / 2.0 + 1.0
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


def test_spearman_matches_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.stats import (
        spearman_corr,
    )

    # ties on both axes; Pearson-of-midranks computed by hand
    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 7.0, 8.0]
    ys = [2.0, 1.0, 4.0, 4.0, 6.0, 8.0, 7.0, 7.0]
    rx, ry = _avg_ranks(xs), _avg_ranks(ys)
    n = len(xs)
    mx = sum(rx) / n
    num = sum((a - mx) * (b - mx) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - mx) ** 2 for b in ry)
    )
    want = round(num / den, 6)
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "g string, x double, y double"
    )
    r = spearman_corr(df, "x", "y", ["g"]).collect()[0]
    assert r.n == 8
    assert abs(r.rho - want) < 1e-9
    # perfect monotone -> exactly 1
    mono = spark.createDataFrame(
        [("g", float(i), float(i * i)) for i in range(1, 9)],
        "g string, x double, y double",
    )
    assert spearman_corr(mono, "x", "y", ["g"]).collect()[0].rho == 1.0


def test_kendall_tau_b_matches_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.stats import (
        kendall_tau_b,
    )

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 7.0, 8.0]
    ys = [2.0, 1.0, 4.0, 4.0, 6.0, 8.0, 7.0, 7.0]
    # brute-force tau-b over all ordered pairs
    s = t1 = t2 = n0 = 0
    for i in range(len(xs)):
        for j in range(i + 1, len(xs)):
            dx, dy = xs[i] - xs[j], ys[i] - ys[j]
            n0 += 1
            s += (dx > 0) * ((dy > 0) - (dy < 0)) - (dx < 0) * (
                (dy > 0) - (dy < 0)
            )
            t1 += dx == 0
            t2 += dy == 0
    want = round(s / math.sqrt((n0 - t1) * (n0 - t2)), 6)
    df = spark.createDataFrame(
        [("g", i, x, y) for i, (x, y) in enumerate(zip(xs, ys))],
        "g string, o int, x double, y double",
    )
    r = kendall_tau_b(df, "o", "x", "y", ["g"]).collect()[0]
    assert r.n == 8
    assert abs(r.tau_b - want) < 1e-6


def test_contingency_assoc_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.stats import (
        contingency_assoc,
    )

    # 2x2 table: a\b   0    1
    #            x    30   10
    #            y    10   50
    rows = (
        [("x", 0)] * 30 + [("x", 1)] * 10 + [("y", 0)] * 10 + [("y", 1)] * 50
    )
    df = spark.createDataFrame(rows, "a string, b int")
    r = contingency_assoc(df, "a", "b").collect()[0]
    n = 100.0
    chi2 = 0.0
    marg_a = {"x": 40, "y": 60}
    marg_b = {0: 40, 1: 60}
    obs = {("x", 0): 30, ("x", 1): 10, ("y", 0): 10, ("y", 1): 50}
    for (a, b), o in obs.items():
        e = marg_a[a] * marg_b[b] / n
        chi2 += (o - e) ** 2 / e
    assert r.n == 100 and r.r == 2 and r.c == 2
    assert abs(r.chi2 - round(chi2, 6)) < 1e-9
    assert abs(r.cramers_v - round(math.sqrt(chi2 / n), 6)) < 1e-9
    h_a = -sum(v / n * math.log(v / n) for v in marg_a.values())
    h_ab = -sum(
        o / n * math.log(o / marg_b[b]) for (a, b), o in obs.items()
    )
    assert abs(r.theil_u_ab - round((h_a - h_ab) / h_a, 6)) < 1e-9


def test_anova_oneway_reference(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        anova_oneway,
    )

    # three arms with hand-computable sums: means 2, 4, 7
    data = {"a": [1.0, 2.0, 3.0], "b": [3.0, 4.0, 5.0], "c": [6.0, 7.0, 8.0]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    r = anova_oneway(df, "v", "g").collect()[0]
    grand = sum(sum(v) for v in data.values()) / 9.0
    ssb = sum(3 * (sum(vs) / 3 - grand) ** 2 for vs in data.values())
    ssw = sum(
        (v - sum(vs) / 3) ** 2 for vs in data.values() for v in vs
    )
    f = (ssb / 2) / (ssw / 6)
    assert r.k == 3 and r.n == 9
    assert abs(r.ssb - ssb) < 1e-5
    assert abs(r.ssw - ssw) < 1e-5
    assert abs(r.f_stat - f) < 1e-4


def test_huber_mean_resists_outliers(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        huber_mean,
    )

    # 95 inliers near 100, 5 wild outliers at 10000
    rows = [("g", 100.0 + (i % 11) - 5) for i in range(95)] + [
        ("g", 10000.0)
    ] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    r = huber_mean(df, "v", ["g"], c=20.0, iters=5).collect()[0]
    assert r.n == 100
    assert abs(r.plain_mean - (sum(v for _, v in rows) / 100)) < 1e-4
    assert r.plain_mean > 590  # dragged by outliers
    assert abs(r.mu - 100.0) < 6  # robust estimate stays home
    assert r.n_downweighted == 5


def test_huber_mean_equals_mean_when_clean(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        huber_mean,
    )

    rows = [("g", float(v)) for v in (8, 9, 10, 11, 12)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = huber_mean(df, "v", ["g"], c=50.0, iters=3).collect()[0]
    assert r.mu == r.plain_mean == 10.0
    assert r.n_downweighted == 0


def test_bloom_filter_no_false_negatives(spark):
    from from_superset_to_clickhouse_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame(
        [(str(i),) for i in range(0, 200, 2)], "k string"
    )
    probes = spark.createDataFrame(
        [(str(i),) for i in range(200)], "k string"
    )
    bits = bloom_build(members, "k", width=256, depth=3)
    got = {r.key: r.maybe for r in
           bloom_probe(bits, probes, "k", width=256, depth=3).collect()}
    # every member answers maybe=True (no false negatives, ever)
    for i in range(0, 200, 2):
        assert got[str(i)]
    # the filter is not vacuous: some non-member is rejected
    assert any(not got[str(i)] for i in range(1, 200, 2))


def test_audio_vad_segments(spark):
    import numpy as np

    from from_superset_to_clickhouse_spark.operators import (
        multimodal as mm,
    )

    w = 8
    # hand-built clip: 2 silence windows, 3 voiced, 1 silence, 2 voiced
    sil = np.zeros(w, "<i2")
    sp = np.full(w, 2000, "<i2")
    clip = np.concatenate([sil, sil, sp, sp, sp, sil, sp, sp])
    payload = mm.encode_wav_pcm(clip)
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "media_id long, payload binary")
    r = mm.audio_vad(df, window=w, energy_threshold=100.0).collect()[0]
    assert r.n_windows == 8
    assert r.n_voiced == 5
    assert r.n_segments == 2
    assert r.first_voiced_frame == 2 * w
    assert r.last_voiced_frame == 8 * w - 1
    assert abs(r.voiced_ratio - 0.625) < 1e-9


def test_audio_vad_quarantines_garbage(spark):
    from from_superset_to_clickhouse_spark.operators import (
        multimodal as mm,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav at all"))],
        "media_id long, payload binary",
    )
    r = mm.audio_vad(df).collect()[0]
    assert r.n_windows is None and r.voiced_ratio is None


def test_diversity_index_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.stats import (
        diversity_index,
    )

    # g: uniform over 4 users (max entropy); h: one dominant user
    rows = [("g", u) for u in (1, 2, 3, 4)] + [
        ("h", 1)
    ] * 7 + [("h", 2)]
    df = spark.createDataFrame(rows, "t string, u int")
    got = {r.grp: r for r in diversity_index(df, "t", "u").collect()}
    assert got["g"].k == 4 and got["g"].n == 4
    assert abs(got["g"].shannon_h - round(math.log(4), 6)) < 1e-9
    assert got["g"].evenness == 1.0
    assert got["g"].simpson == 0.25
    h = -(7 / 8 * math.log(7 / 8) + 1 / 8 * math.log(1 / 8))
    assert abs(got["h"].shannon_h - round(h, 6)) < 1e-9
    assert got["h"].simpson == round((7 / 8) ** 2 + (1 / 8) ** 2, 6)


def test_gumbel_fit_reference(spark):
    import datetime
    import math

    from from_superset_to_clickhouse_spark.operators.stats import (
        gumbel_fit,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # daily maxima planted directly (one event per day)
    maxima = [10.0, 12.0, 11.0, 15.0, 13.0, 14.0, 12.0, 11.0]
    rows = [
        ("g", t0 + datetime.timedelta(days=i), m)
        for i, m in enumerate(maxima)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    r = gumbel_fit(df, "g", "ts", "v").collect()[0]
    m = sum(maxima) / len(maxima)
    s = math.sqrt(
        sum((x - m) ** 2 for x in maxima) / (len(maxima) - 1)
    )
    beta = s * math.sqrt(6) / math.pi
    mu = m - 0.5772156649015329 * beta
    assert r.n == 8
    assert abs(r.max_std - s) < 1e-4
    assert abs(r.beta - beta) < 1e-4
    assert abs(r.mu - mu) < 1e-4
    z = (max(maxima) - mu) / beta
    assert abs(r.p_exceed_seen - (1 - math.exp(-math.exp(-z)))) < 1e-4


def test_basket_rules_reference(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        basket_rules,
    )

    baskets = {
        1: ["milk", "bread"],
        2: ["milk", "bread", "eggs"],
        3: ["milk", "eggs"],
        4: ["bread"],
    }
    rows = [(b, i) for b, its in baskets.items() for i in its]
    df = spark.createDataFrame(rows, "bk int, it string")
    got = {
        (r.item_a, r.item_b): r
        for r in basket_rules(df, "bk", "it", min_pair_count=2).collect()
    }
    # milk+bread in 2 of 4 baskets; milk in 3, bread in 3
    r = got[("bread", "milk")]
    assert r.pair_cnt == 2
    assert r.support == 0.5
    assert abs(r.conf_ab - round(2 / 3, 6)) < 1e-9  # bread -> milk
    assert abs(r.lift - round(2 * 4 / 9, 6)) < 1e-9
    # milk+eggs supported twice as well; bread+eggs only once -> pruned
    assert ("eggs", "milk") in got
    assert ("bread", "eggs") not in got


def test_rfm_segments_scores(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.relational import (
        rfm_segments,
    )

    d = datetime.date
    # 5 customers with strictly ordered R/F/M profiles
    rows = []
    for c in range(5):
        for k in range(c + 1):  # frequency 1..5
            rows.append((c, d(2024, 1, c + 1), float((c + 1) * 100)))
    df = spark.createDataFrame(rows, "cust int, dt date, amt double")
    got = {r.customer: r for r in
           rfm_segments(df, "cust", "dt", "amt").collect()}
    # customer 4 ordered last -> most recent, most frequent, top spend
    assert got[4].recency_days == 0 and got[4].rfm == "555"
    assert got[0].recency_days == 4 and got[0].rfm == "111"
    assert got[2].frequency == 3
    assert got[2].monetary == 900.0  # 3 orders x 300


def test_abc_analysis_classes(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        abc_analysis,
    )

    # revenues 80, 15, 3, 2 -> shares .8/.15/.03/.02
    rows = [("a", 80.0), ("b", 15.0), ("c", 3.0), ("d", 2.0)]
    df = spark.createDataFrame(rows, "item string, amt double")
    got = {r.item: r for r in abc_analysis(df, "item", "amt").collect()}
    assert got["a"].abc_class == "A" and got["a"].cum_share == 0.8
    assert got["b"].abc_class == "B" and got["b"].cum_share == 0.95
    assert got["c"].abc_class == "C"
    assert got["d"].abc_class == "C" and got["d"].cum_share == 1.0
    assert got["b"].revenue_share == 0.15


def test_geohash_known_point(spark):
    from from_superset_to_clickhouse_spark.operators.geo import (
        geohash_encode,
    )

    # canonical example from the geohash spec writeups
    df = spark.createDataFrame(
        [(1, 57.64911, 10.40744), (2, 90.0, 180.0), (3, -90.0, -180.0)],
        "id int, lat double, lon double",
    )
    got = {r.id: r.geohash for r in
           geohash_encode(df, "lat", "lon", precision=6).collect()}
    assert got[1] == "u4pruy"
    assert got[2] == "zzzzzz"  # clamped one-past edge
    assert got[3] == "000000"


def test_control_chart_rules(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        control_chart,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # stable series with one wild spike at day 20
    vals = [10.0, 11.0] * 12
    vals[20] = 60.0
    rows = [
        ("g", t0 + datetime.timedelta(days=i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    got = {r.bucket_ts.day - 1: r for r in
           control_chart(df, "g", "ts", "v").collect()}
    assert got[20].rule1  # the spike breaks 3 sigma
    assert not any(got[d].rule1 for d in range(20))
    # all-below-mean run: the spike drags mu up, so the stable
    # days after it sit on one side -> no false rule1 there either
    assert not got[23].rule1


def test_asof_directed_and_tolerance(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        asof_join_directed,
    )

    t = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
    left = spark.createDataFrame(
        [("a", 1, t(5)), ("a", 2, t(10)), ("a", 3, t(20))],
        "k string, id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", t(6), 100.0), ("a", t(12), 200.0)],
        "k string, rts timestamp, val double",
    )
    fwd = {
        r.id: r.asof_val
        for r in asof_join_directed(
            left, right, "k", "ts", "rts", ["val"], direction="forward"
        ).collect()
    }
    assert fwd == {1: 100.0, 2: 200.0, 3: None}
    bwd = {
        r.id: r.asof_val
        for r in asof_join_directed(
            left, right, "k", "ts", "rts", ["val"], direction="backward"
        ).collect()
    }
    assert bwd == {1: None, 2: 100.0, 3: 200.0}
    # forward with 1-day tolerance: only id 1 (gap 1d) survives
    tol = {
        r.id: r.asof_val
        for r in asof_join_directed(
            left, right, "k", "ts", "rts", ["val"],
            direction="forward", tolerance_seconds=86400,
        ).collect()
    }
    assert tol == {1: 100.0, 2: None, 3: None}


def test_collocations_g2_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.text import (
        collocations_g2,
    )

    # "strong tea" 6x among filler bigrams
    text = " x ".join(["strong tea"] * 6) + " strong coffee weak tea"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    got = {
        (r.w1, r.w2): r
        for r in collocations_g2(df, "doc_id", "text", min_count=2).collect()
    }
    r = got[("strong", "tea")]
    assert r.n_pair == 6
    # replay the contingency by hand
    bigrams = text.split()
    bi = list(zip(bigrams, bigrams[1:]))
    n = len(bi)
    o11 = 6.0
    c1 = sum(1 for a, _ in bi if a == "strong")
    c2 = sum(1 for _, b in bi if b == "tea")
    o12, o21 = c1 - o11, c2 - o11
    o22 = n - o11 - o12 - o21
    e = lambda a, b: a * b / n  # noqa: E731
    g2 = 2 * sum(
        o * math.log(o / ee)
        for o, ee in (
            (o11, e(c1, c2)),
            (o12, e(c1, n - c2)),
            (o21, e(n - c1, c2)),
            (o22, e(n - c1, n - c2)),
        )
        if o > 0
    )
    assert abs(r.g2 - round(g2, 6)) < 1e-6
    assert abs(r.t_score - round((o11 - e(c1, c2)) / math.sqrt(o11), 6)) < 1e-9


def test_png_palette_roundtrip_and_quarantine(spark):
    from from_superset_to_clickhouse_spark.operators import (
        multimodal as mm,
    )

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    idx = bytes([0, 1, 2, 3, 3, 2, 1, 0, 0, 1, 2, 3])
    for ft in range(5):
        p = mm.encode_png_palette(4, 3, idx, pal, filter_type=ft)
        w, h, ch, px = mm.decode_png_pixels(p)
        assert (w, h, ch) == (4, 3, 3)
        want = b"".join(pal[i * 3:i * 3 + 3] for i in idx)
        assert px == want, f"filter {ft}"
    # index beyond palette rejected at encode AND decode
    import pytest

    with pytest.raises(ValueError):
        mm.encode_png_palette(2, 1, bytes([0, 9]), pal)
    # missing PLTE quarantines
    good = mm.encode_png_palette(2, 1, bytes([0, 1]), pal)
    import struct as _s

    # strip the PLTE chunk: walk and re-join without it
    out, pos = good[:8], 8
    while pos + 8 <= len(good):
        (ln,) = _s.unpack(">I", good[pos:pos + 4])
        typ = good[pos + 4:pos + 8]
        chunk = good[pos:pos + 12 + ln]
        if typ != b"PLTE":
            out += chunk
        pos += 12 + ln
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_png_pixels(out)


def test_encoding_stats_reference(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.relational import (
        encoding_stats,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # values: 5,5,5,6,200 -> runs 3; deltas 0,0,1,194
    vals = [5, 5, 5, 6, 200]
    rows = [
        ("g", t0 + datetime.timedelta(seconds=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, i int, v long")
    r = encoding_stats(df, "g", "ts", "v", "i").collect()[0]
    assert r.n == 5
    assert r.rle_runs == 3
    # zigzag(0)=0 -> 1B ×2, zigzag(1)=2 -> 1B, zigzag(194)=388 -> 2B,
    # + 8B first-value header
    assert r.varint_bytes == 1 + 1 + 1 + 2 + 8
    assert r.raw_bytes == 40
    # negative delta: 5 -> 2: zigzag(-3) = 5 -> 1 byte
    rows2 = [("h", t0, 0, 5), ("h", t0, 1, 2)]
    df2 = spark.createDataFrame(
        rows2, "g string, ts timestamp, i int, v long"
    )
    r2 = encoding_stats(df2, "g", "ts", "v", "i").collect()[0]
    assert r2.varint_bytes == 8 + 1


def test_kaplan_meier_textbook(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.stats import (
        kaplan_meier,
    )

    d = datetime.date
    # 5 subjects: deaths at t=2 (two) and t=4 (one); two censored
    # (last activity at the corpus end -> inside the horizon)
    rows = []
    for s, (start, end) in enumerate(
        [
            (d(2024, 1, 1), d(2024, 1, 3)),   # t=2, dead
            (d(2024, 1, 1), d(2024, 1, 3)),   # t=2, dead
            (d(2024, 1, 1), d(2024, 1, 5)),   # t=4, dead
            (d(2024, 1, 26), d(2024, 1, 31)), # t=5, censored (at end)
            (d(2024, 1, 28), d(2024, 1, 31)), # t=3, censored
        ]
    ):
        rows.append((s, start))
        rows.append((s, end))
    df = spark.createDataFrame(rows, "s int, dt date")
    got = {r.t_days: r for r in
           kaplan_meier(df, "s", "dt", censor_horizon_days=7).collect()}
    # risk sets (by descending duration): t=2 has n=5, d=2 -> S=0.6;
    # t=4 has n=2 at risk (t=3 censored dropped before), d=1 -> S=0.3
    assert got[2].n_risk == 5 and got[2].d_events == 2
    assert abs(got[2].survival - 0.6) < 1e-9
    assert got[4].n_risk == 2 and got[4].d_events == 1
    assert abs(got[4].survival - 0.3) < 1e-9
    assert set(got) == {2, 4}  # censored durations emit no curve row


def test_cuped_reduces_variance(spark):
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        cuped_adjust,
    )

    rng = random.Random(3)
    rows = []
    for u in range(400):
        base = rng.uniform(0, 100)        # user-level heterogeneity
        arm = u % 2
        x = base + rng.uniform(-5, 5)     # pre-period metric
        y = base + rng.uniform(-5, 5) + (3.0 if arm else 0.0)
        rows.append((u, arm, x, y))
    df = spark.createDataFrame(rows, "u int, arm int, x double, y double")
    got = {r.arm: r for r in cuped_adjust(df, "u", "arm", "x", "y").collect()}
    for a in (0, 1):
        assert got[a].var_y_adj < got[a].var_y * 0.1  # big reduction
        assert got[a].var_reduction_pct > 90
    # the treatment effect survives adjustment
    lift = got[1].mean_y_adj - got[0].mean_y_adj
    assert abs(lift - 3.0) < 1.5


def test_equalize_png_reference(spark):
    import numpy as np

    from from_superset_to_clickhouse_spark.operators import (
        multimodal as mm,
    )

    # 2x2 gray image with values 10,10,20,30
    px = bytes([10, 10, 20, 30])
    p = mm.encode_png_raw(2, 2, 1, px)
    w, h, ch, out = mm.decode_png_pixels(mm.equalize_png(p))
    a = np.frombuffer(out, dtype=np.uint8)
    # cdf: 10->2, 20->3, 30->4; cmin=2, n=4
    # v'(10)=0, v'(20)=floor(1/2*255+.5)=128, v'(30)=255
    assert list(a) == [0, 0, 128, 255]
    # constant image maps to all zeros
    flat = mm.encode_png_raw(2, 1, 1, bytes([77, 77]))
    _, _, _, out2 = mm.decode_png_pixels(mm.equalize_png(flat))
    assert bytes(out2) == b"\x00\x00"


def test_decimate_audio_roundtrip(spark):
    import numpy as np

    from from_superset_to_clickhouse_spark.operators import (
        multimodal as mm,
    )

    # 8 frames: blocks of 4 -> means 100 and -200; tail dropped
    sig = np.array([100] * 4 + [-200] * 4 + [999], dtype="<i2")
    df = spark.createDataFrame(
        [(1, bytearray(mm.encode_wav_pcm(sig, sample_rate=8000)))],
        "media_id long, payload binary",
    )
    out = mm.decimate_audio(df, factor=4).collect()[0]
    rate, ch, frames = mm.decode_wav_samples(bytes(out.payload))
    assert rate == 2000 and frames.shape == (2, 1)
    assert list(frames[:, 0]) == [100, -200]


def test_temperature_mix_flattens_shares(spark):
    from from_superset_to_clickhouse_spark.operators.sampling import (
        temperature_mix,
    )

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k long, g string")
    got = {r.source: r for r in
           temperature_mix(df, "k", "g", alpha=0.5, target_frac=0.5).collect()}
    # alpha=0.5: shares prop to 30 vs 10 -> small keeps a LARGER
    # fraction of itself than big does
    assert got["small"].rate_bp > got["big"].rate_bp
    assert got["small"].n_orig == 100 and got["big"].n_orig == 900
    # admission matches the rate to within hash granularity
    for s in ("big", "small"):
        assert abs(got[s].kept_frac - got[s].rate_bp / 10000) < 0.1


def test_eb_shrink_pulls_small_samples(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        eb_shrink_rates,
    )

    # many mid-rate items + one 1/1 item and one 97/100 item
    rows = [(i, 100, 30 + i % 9) for i in range(40)]
    rows += [(100, 1, 1), (101, 100, 97)]
    df = spark.createDataFrame(rows, "k int, n long, x long")
    got = {r.key: r for r in eb_shrink_rates(df, "k", "n", "x").collect()}
    # the 1/1 item shrinks far toward the pool mean (~0.35); the
    # 97/100 item barely moves -> shrunk ranking flips
    assert got[100].raw_rate == 1.0
    assert got[100].shrunk_rate < 0.7
    assert got[101].shrunk_rate > 0.85
    assert got[101].shrunk_rate > got[100].shrunk_rate
    # well-observed items move very little
    assert abs(got[0].shrunk_rate - got[0].raw_rate) < 0.03


def test_eb_shrink_degenerate_no_variance(spark):
    from from_superset_to_clickhouse_spark.operators.stats import (
        eb_shrink_rates,
    )

    rows = [(i, 10, 5) for i in range(5)]  # all rates identical
    df = spark.createDataFrame(rows, "k int, n long, x long")
    for r in eb_shrink_rates(df, "k", "n", "x").collect():
        assert r.shrunk_rate == r.raw_rate == 0.5


def test_link_cluster_transitive(spark):
    from pyspark.sql import functions as F

    from from_superset_to_clickhouse_spark.operators.dedup import (
        levenshtein_link,
    )
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
    )

    # ab->ax (1), ax->ay (1) but ab->ay = 2: transitivity clusters all
    rows = [("ab x",), ("ax x",), ("ay x",), ("zz y",)]
    df = spark.createDataFrame(rows, "name string")
    blk = F.element_at(F.split(F.col("name"), " "), -1)
    edges = levenshtein_link(df, "name", blk, max_dist=1).select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    )
    names = df.select(F.col("name").alias("node")).distinct()
    got = {r.node: r.component
           for r in connected_components(edges, nodes=names).collect()}
    assert got["ab x"] == got["ax x"] == got["ay x"] == "ab x"
    assert got["zz y"] == "zz y"  # singleton survives via nodes=


def test_kmv_distinct_exact_and_estimate(spark):
    from from_superset_to_clickhouse_spark.operators.sketch import (
        kmv_distinct,
    )

    # group 'small' has 10 distinct values (< k) -> exact count;
    # group 'big' has 5000 distinct -> estimate within 30%
    rows = [("small", i) for i in range(10)] * 3 + [
        ("big", i) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.grp: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert got["small"].n_seen == 10 and got["small"].est == 10.0
    assert got["big"].n_seen == 64
    assert abs(got["big"].est - 5000) / 5000 < 0.3


def test_markov_entropy_deterministic_vs_uniform(spark):
    import datetime
    import math

    from from_superset_to_clickhouse_spark.operators.temporal import (
        markov_entropy,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: a->b always (deterministic, H=0)
    for rep in range(4):
        for i, s in enumerate(("a", "b")):
            rows.append(
                (1, t0 + datetime.timedelta(hours=rep * 2, minutes=i),
                 eid, s)
            )
            eid += 1
    # user 2: c->a and c->b equally often (H = ln 2)
    for rep in range(4):
        nxt = "a" if rep % 2 == 0 else "b"
        for i, s in enumerate(("c", nxt)):
            rows.append(
                (2, t0 + datetime.timedelta(hours=rep * 2, minutes=i),
                 eid, s)
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "u int, ts timestamp, event_id int, t string"
    )
    got = {r.from_type: r for r in
           markov_entropy(df, "u", "ts", "t", gap_minutes=30,
                          tiebreak_col="event_id").collect()}
    assert got["a"].h_nats == 0.0 and got["a"].perplexity == 1.0
    assert abs(got["c"].h_nats - round(math.log(2), 6)) < 1e-6
    assert abs(got["c"].perplexity - 2.0) < 1e-5


def test_audience_overlap_reference(spark):
    from from_superset_to_clickhouse_spark.operators.relational import (
        audience_overlap,
    )

    rows = (
        [("a", u) for u in (1, 2, 3, 4)]
        + [("b", u) for u in (3, 4, 5)]
        + [("c", u) for u in (6,)]
    )
    df = spark.createDataFrame(rows, "g string, u int")
    got = {
        (r.group_a, r.group_b): r
        for r in audience_overlap(df, "g", "u").collect()
    }
    r = got[("a", "b")]
    assert (r.n_a, r.n_b, r.n_both, r.n_any) == (4, 3, 2, 5)
    assert r.jaccard == 0.4
    assert abs(r.lift - round(2 * 6 / 12, 6)) < 1e-9  # N=6 units
    assert ("a", "c") not in got  # disjoint pairs emit no row


def test_item_cf_topk_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.relational import (
        item_cf_topk,
    )

    baskets = {
        1: ["x", "y"], 2: ["x", "y"], 3: ["x", "y"],
        4: ["x", "z"], 5: ["x", "z"], 6: ["z", "w"], 7: ["z", "w"],
    }
    rows = [(b, i) for b, its in baskets.items() for i in its]
    df = spark.createDataFrame(rows, "bk int, it string")
    got = {
        (r.item, r.rank): r
        for r in item_cf_topk(df, "bk", "it", k=2).collect()
    }
    # x: n=5 baskets; y co-occurs 3x (cos 3/sqrt(15)), z 2x (2/sqrt(20))
    assert got[("x", 1)].rec == "y"
    assert abs(got[("x", 1)].cosine - round(3 / math.sqrt(15), 6)) < 1e-9
    assert got[("x", 2)].rec == "z"
    # symmetric direction exists
    assert got[("y", 1)].rec == "x"


def test_bmp_decode_roundtrip_and_quarantine(spark):
    import pytest
    import struct as _s

    from from_superset_to_clickhouse_spark.operators import (
        multimodal as mm,
    )

    # odd width -> nonzero padding; interesting content
    px = bytes((i * 37) % 256 for i in range(5 * 3 * 3))
    p = mm.encode_bmp(5, 3, px)
    w, h, ch, out = mm.decode_bmp_pixels(p)
    assert (w, h, ch) == (5, 3, 3) and out == px
    # top-down variant (negative height) decodes identically
    neg = bytearray(p)
    (hh,) = _s.unpack_from("<i", p, 22)
    _s.pack_into("<i", neg, 22, -hh)
    # flip the row order in the pixel data to keep content equal
    off = 54
    stride = 5 * 3 + ((-(5 * 3)) % 4)
    rows = [bytes(p[off + r * stride: off + (r + 1) * stride])
            for r in range(3)]
    neg = bytes(neg[:off]) + b"".join(reversed(rows))
    w2, h2, ch2, out2 = mm.decode_bmp_pixels(neg)
    assert out2 == px
    # 8-bit and compressed files quarantine
    bad = bytearray(p)
    _s.pack_into("<H", bad, 28, 8)
    with pytest.raises(ValueError, match="unsupported"):
        mm.decode_bmp_pixels(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_bmp_pixels(p[:40])


def test_u_shaped_attribution_reference(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        u_shaped_attribution,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def row(u, m, t):
        return (u, t0 + datetime.timedelta(minutes=m), m, t)

    rows = [
        # u1 journey: view, click, view, signup -> purchase
        # opener view 0.4; closer signup 0.4; middles click+view 0.1 ea
        row(1, 0, "view"), row(1, 1, "click"), row(1, 2, "view"),
        row(1, 3, "signup"), row(1, 4, "purchase"),
        # u2: single click -> purchase: click takes 1.0
        row(2, 0, "click"), row(2, 1, "purchase"),
        # u2 second journey: two views -> purchase: 0.5 each
        row(2, 2, "view"), row(2, 3, "view"), row(2, 4, "purchase"),
        # u3: touches with no conversion -> no credit
        row(3, 0, "view"), row(3, 1, "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    got = {r.touch_type: r for r in u_shaped_attribution(
        df, "user_id", "ts", "event_type",
        ["view", "click", "signup"], "purchase",
        tiebreak_col="event_id",
    ).collect()}
    assert abs(got["view"].credit - (0.4 + 0.1 + 0.5 + 0.5)) < 1e-9
    assert abs(got["click"].credit - (0.1 + 1.0)) < 1e-9
    assert abs(got["signup"].credit - 0.4) < 1e-9
    assert got["view"].n_touches == 4  # u3's untouched views excluded
    # total credit equals the number of touched conversions
    assert abs(sum(r.credit for r in got.values()) - 3.0) < 1e-9


def test_webp_header_roundtrip_all_variants():
    from from_superset_to_clickhouse_spark.operators import multimodal as mm

    assert mm.decode_webp_header(mm.encode_webp(33, 21, "vp8")) == (
        "vp8", 33, 21, 0, 0,
    )
    # VP8L: 5-byte payload exercises the RIFF odd-size pad byte.
    assert mm.decode_webp_header(
        mm.encode_webp(300, 200, "vp8l", alpha=True)
    ) == ("vp8l", 300, 200, 1, 0)
    # VP8X: canvas governs, nested decoy VP8 chunk must be ignored.
    assert mm.decode_webp_header(
        mm.encode_webp(123, 45, "vp8x", alpha=True, anim=True,
                       inner_dims=(7, 3))
    ) == ("vp8x", 123, 45, 1, 1)
    # the generic header tier recognizes webp now (VERDICT r8 item 6)
    assert mm.decode_image_header(mm.encode_webp(64, 48, "vp8")) == (
        "webp", 64, 48,
    )


def test_webp_header_malformed_quarantines():
    import struct

    import pytest

    from from_superset_to_clickhouse_spark.operators import multimodal as mm

    good = mm.encode_webp(10, 10, "vp8")
    # RIFF size lies about the byte length -> reject, never garbage dims
    bad_sz = good[:4] + struct.pack("<I", 999) + good[8:]
    with pytest.raises(ValueError):
        mm.decode_webp_header(bad_sz)
    with pytest.raises(ValueError):
        mm.decode_webp_header(good[:-3])  # truncated chunk
    # interframe (frame tag bit0 = 1) carries no dims
    vp8 = bytearray(good)
    vp8[20] |= 0x01
    with pytest.raises(ValueError):
        mm.decode_webp_header(bytes(vp8))
    # VP8L with a nonzero version bit field
    lossless = bytearray(mm.encode_webp(5, 5, "vp8l"))
    # version bits live at 29-31 of the LE u32; the file's LAST byte is
    # the odd-size pad, so the u32's high byte is at -2
    lossless[-2] |= 0x20
    with pytest.raises(ValueError):
        mm.decode_webp_header(bytes(lossless))
    with pytest.raises(ValueError):
        mm.decode_webp_header(b"RIFX" + good[4:])


def test_cohens_kappa_reference_values(spark):
    """Perfect agreement -> kappa 1; independence-by-construction ->
    kappa ~ 0; and P_e counts label pairs with zero joint cells (the
    marginal-join fix) — checked against a hand computation."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cohens_kappa,
    )

    same = spark.createDataFrame(
        [(str(i % 3), str(i % 3)) for i in range(30)], "a string, b string"
    )
    assert cohens_kappa(same, "a", "b").first()["kappa"] == 1.0
    # 2x2 with an EMPTY diagonal cell (y,y): a = x,x,x,y; b = x,y,x,x
    rows = [("x", "x"), ("x", "y"), ("x", "x"), ("y", "x")]
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").first()
    # po = 2/4; pe = (3*3 + 1*1)/16 = 10/16 -> includes (y,y) marginals
    assert abs(r["po"] - 0.5) < 1e-9
    assert abs(r["pe"] - 0.625) < 1e-9
    assert abs(r["kappa"] - (0.5 - 0.625) / (1 - 0.625)) < 1e-6


def test_mcnemar_reference(spark):
    """Classic 2x2: only discordant cells drive the statistic."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mcnemar_test,
    )

    rows = (
        [(1, 1)] * 20 + [(0, 0)] * 30 + [(1, 0)] * 15 + [(0, 1)] * 5
    )
    df = spark.createDataFrame(rows, "a int, b int")
    r = mcnemar_test(df, "a", "b").first()
    assert (r["n10"], r["n01"]) == (15, 5)
    # (|15-5|-1)^2/20 = 81/20
    assert abs(r["chi2"] - 4.05) < 1e-9
    assert 0.0 < r["p_value"] < 0.06  # true chi2(1) sf(4.05) ~ 0.044


def test_mcnemar_n_counts_only_valid_pairs(spark):
    """ADVICE r9: NULL / out-of-domain rows must not inflate n — n,
    n10, n01 all describe the same filtered paired sample."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mcnemar_test,
    )

    rows = [(1, 0)] * 3 + [(0, 1)] * 2 + [(1, 1)] * 5 + [
        (None, 1), (1, None), (2, 0), (0, -1),
    ]
    df = spark.createDataFrame(rows, "a int, b int")
    r = mcnemar_test(df, "a", "b").first()
    assert r["n"] == 10  # the 4 invalid rows are excluded from n too
    assert (r["n10"], r["n01"]) == (3, 2)


def test_friedman_drops_corrupt_blocks(spark):
    """ADVICE r9: a block with a duplicated treatment and a missing
    one has the right ROW COUNT but a corrupt design — it must be
    dropped, not midranked."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        friedman_test,
    )

    good = [
        (b, t, float((b * 7 + ord(t)) % 13))
        for b in range(1, 7) for t in ("x", "y", "z")
    ]
    # block 99: three rows but treatments (x, x, y) — no z
    bad = [(99, "x", 1.0), (99, "x", 2.0), (99, "y", 3.0)]
    df = spark.createDataFrame(
        good + bad, "b int, t string, v double"
    )
    r = friedman_test(df, "b", "t", "v").first()
    assert r["n_blocks"] == 6  # the corrupt block is excluded
    ref = friedman_test(
        spark.createDataFrame(good, "b int, t string, v double"),
        "b", "t", "v",
    ).first()
    assert abs(r["q"] - ref["q"]) < 1e-9


def test_chao1_and_good_turing_reference(spark):
    """Chao1 on a hand histogram and the SGT unseen mass N1/N."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        chao1_richness,
        good_turing,
    )

    # tokens: a,a,a  b,b  c  d  e -> observed 5, f1 = 3, f2 = 1
    toks = [("g", t) for t in "aaabbcde"]
    df = spark.createDataFrame(toks, "g string, t string")
    r = chao1_richness(df, "t", "g").first()
    assert (r["observed"], r["f1"], r["f2"]) == (5, 3, 1)
    assert abs(r["chao1"] - (5 + 3 * 2 / (2 * 2))) < 1e-9
    gt = {row["r"]: row for row in good_turing(df, "t").collect()}
    assert abs(gt[0]["p_mass"] - 3 / 8) < 1e-9  # N1/N
    assert abs(gt[1]["r_star"] - 2 * 1 / 3) < 1e-6  # (r+1)N2/N1
    assert abs(gt[2]["r_star"] - 3 * 1 / 1) < 1e-9  # (r+1)N3/N2


def test_hill_tail_exact_pareto(spark):
    """On an exact Pareto(alpha) grid the Hill estimator recovers
    alpha closely (it is the MLE for the tail exponent)."""
    from from_superset_to_clickhouse_spark.operators.stats import hill_tail

    alpha = 2.0
    # inverse-CDF points: x_i = (i/n)^(-1/alpha), i = 1..n
    rows = [(i, (i / 500.0) ** (-1.0 / alpha)) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "i long, x double")
    r = hill_tail(df, "x", k=100, tiebreak_col="i").first()
    assert abs(r["alpha"] - alpha) < 0.25
    assert r["k"] == 100


def test_hill_tail_boundary_ties_and_degenerate(spark):
    """ADVICE r9: ties with x_(k+1) are kept BY POSITION (zero
    log-ratio terms), so k is exact; an all-tied top-(k+1) raises."""
    import pytest

    from from_superset_to_clickhouse_spark.operators.stats import (
        hill_tail,
    )

    # values 100, 50, 50, 50, 50, 50, 10: with k=3, x_(4) = 50 and the
    # top-3 are (100, 50, 50) — old strict-> filter kept only 100.
    rows = list(enumerate([100.0, 50.0, 50.0, 50.0, 50.0, 50.0, 10.0]))
    df = spark.createDataFrame(rows, "i long, x double")
    r = hill_tail(df, "x", k=3, tiebreak_col="i").first()
    assert r["k"] == 3
    assert r["xmin"] == 50.0
    # 1/alpha = mean(ln(100/50), 0, 0) = ln(2)/3
    import math

    assert abs(r["alpha"] - 3.0 / math.log(2.0)) < 1e-6
    with pytest.raises(ValueError, match="all tied"):
        hill_tail(
            spark.createDataFrame(
                [(i, 7.0) for i in range(10)], "i long, x double"
            ),
            "x", k=3, tiebreak_col="i",
        )
    with pytest.raises(ValueError, match=">= 2 positive"):
        hill_tail(
            spark.createDataFrame([(1, 5.0)], "i long, x double"),
            "x", k=3, tiebreak_col="i",
        )


def test_theil_decomposition_identity(spark):
    """T_total == T_between + T_within exactly (same sums), and a
    one-group frame puts everything in 'within'."""
    import random

    from from_superset_to_clickhouse_spark.operators.stats import (
        theil_index,
    )

    rng = random.Random(3)
    rows = [(f"g{i % 4}", rng.lognormvariate(2, 1)) for i in range(800)]
    df = spark.createDataFrame(rows, "g string, x double")
    r = theil_index(df, "x", "g").first()
    assert abs(r["theil_total"] - (r["theil_between"] + r["theil_within"])) < 2e-6
    one = theil_index(df.select(F.lit("all").alias("g"), "x"), "x", "g").first()
    assert abs(one["theil_between"]) < 1e-9
    assert abs(one["theil_within"] - one["theil_total"]) < 2e-6


def test_permutation_test_planted_effect_and_null(spark):
    """A strong planted arm effect -> tiny p; a pure-noise arm split
    -> p bounded away from 0. Deterministic: same inputs, same p."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        permutation_test_hash,
    )

    effect = [(i, i % 2, 10.0 + (5.0 if i % 2 else 0.0) + (i % 7) * 0.1)
              for i in range(300)]
    df = spark.createDataFrame(effect, "u long, arm int, v double")
    r = permutation_test_hash(df, "u", "arm", "v", n_perm=100)
    a, b = r.first(), r.first()
    assert a == b  # deterministic md5 permutations
    assert a["p_value"] <= 0.02
    # null: value independent of arm (value keyed on i%7 only)
    null = [(i, i % 2, 10.0 + ((i * 13) % 7) * 0.1) for i in range(300)]
    ndf = spark.createDataFrame(null, "u long, arm int, v double")
    p = permutation_test_hash(ndf, "u", "arm", "v", n_perm=100).first()
    assert p["p_value"] >= 0.05


def test_qoi_codec_roundtrip_and_quarantine():
    """Encode→decode identity across op regimes (random=RGB/LUMA-heavy,
    constant=RUN-heavy incl. >62-pixel runs, gradient=DIFF-heavy) and
    ValueError quarantine on malformed streams."""
    import random

    import pytest

    from from_superset_to_clickhouse_spark.operators import multimodal as mm

    rng = random.Random(1)
    for trial in range(60):
        w, h = rng.randint(1, 12), rng.randint(1, 8)
        if trial % 3 == 0:
            px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        elif trial % 3 == 1:
            px = bytes(
                (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            ) * (w * h)
        else:
            buf = bytearray()
            r = g = b = 100
            for _ in range(w * h):
                r = (r + rng.randint(-2, 1)) % 256
                g = (g + rng.randint(-2, 1)) % 256
                b = (b + rng.randint(-2, 1)) % 256
                buf += bytes((r, g, b))
            px = bytes(buf)
        enc = mm.encode_qoi(w, h, px)
        assert mm.decode_qoi_pixels(enc) == (w, h, 3, px), (trial, w, h)
    long = bytes((5, 6, 7)) * 200  # run > 62 forces run-splitting
    assert mm.decode_qoi_pixels(mm.encode_qoi(20, 10, long))[3] == long
    good = mm.encode_qoi(4, 4, bytes(range(48)))
    for bad in (b"qoix" + good[4:], good[:-1], good[:20]):
        with pytest.raises(ValueError):
            mm.decode_qoi_pixels(bad)


def test_wilcoxon_signed_rank_reference(spark):
    """Hand example: diffs (3, -1, 2, 2, 0, -4) -> zero drops, |d|
    midranks (4, 1, 2.5, 2.5, 5), W+ = 9, tie-corrected sigma."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    pairs = [(0.0, 3.0), (1.0, 0.0), (5.0, 7.0), (2.0, 4.0),
             (9.0, 9.0), (6.0, 2.0)]
    df = spark.createDataFrame(pairs, "before double, after double")
    r = wilcoxon_signed_rank(df, "before", "after").first()
    assert (r["n_pairs"], r["n_nonzero"]) == (6, 5)
    assert r["w_plus"] == 9.0
    # mu = 7.5, sigma = sqrt(13.75 - 6/48), z = (1.5 - 0.5)/sigma
    import math

    sig = math.sqrt(5 * 6 * 11 / 24 - 6 / 48)
    assert abs(r["z"] - 1.0 / sig) < 1e-6


def test_cochran_q_reference(spark):
    """Textbook 4x3 design: C = (3,3,1), R = (2,1,3,1) -> Q = 8/3."""
    from from_superset_to_clickhouse_spark.operators.stats import cochran_q

    rows = []
    design = {1: (1, 1, 0), 2: (1, 0, 0), 3: (1, 1, 1), 4: (0, 1, 0)}
    for b, ys in design.items():
        for j, y in enumerate(ys):
            rows.append((b, f"t{j}", y))
    df = spark.createDataFrame(rows, "b int, t string, y int")
    r = cochran_q(df, "b", "t", "y").first()
    assert (r["n_blocks"], r["k"]) == (4, 3)
    assert abs(r["q"] - 8.0 / 3.0) < 1e-6
    # an incomplete block (one treatment missing) must be dropped
    df2 = df.union(
        spark.createDataFrame([(9, "t0", 1), (9, "t1", 0)],
                              "b int, t string, y int")
    )
    r2 = cochran_q(df2, "b", "t", "y").first()
    assert r2["n_blocks"] == 4
    assert abs(r2["q"] - r["q"]) < 1e-9


def test_bootstrap_ci_hash_reference(spark):
    """Deterministic md5-Poisson bootstrap: CI brackets the mean on
    well-behaved data and reruns are bit-identical."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bootstrap_ci_hash,
    )

    rows = [(i, float(10 + (i * 37) % 50)) for i in range(400)]
    df = spark.createDataFrame(rows, "u long, x double")
    r1 = bootstrap_ci_hash(df, "u", "x", n_boot=200).first()
    r2 = bootstrap_ci_hash(df, "u", "x", n_boot=200).first()
    assert r1 == r2  # hash draws, not RNG
    assert r1["n"] == 400 and r1["n_boot"] == 200
    assert r1["lo95"] < r1["mean_obs"] < r1["hi95"]
    # CI width should be a few sd/sqrt(n), not degenerate or huge
    assert 0.1 < r1["hi95"] - r1["lo95"] < 10.0


def test_lexical_diversity_reference(spark):
    """Tokens (a a a b c): N=5 V=3 f1=2 c2=11 -> ttr .6, hapax 2/3,
    simpson .3, yule 2400."""
    from from_superset_to_clickhouse_spark.operators.text import (
        lexical_diversity,
    )

    df = spark.createDataFrame(
        [("g", t) for t in "aaabc"], "g string, t string"
    )
    r = lexical_diversity(df, "t", "g").first()
    assert (r["n_tokens"], r["vocab"]) == (5, 3)
    assert abs(r["ttr"] - 0.6) < 1e-9
    assert abs(r["hapax_ratio"] - 2 / 3) < 1e-6
    assert abs(r["simpson_d"] - 0.3) < 1e-9
    assert abs(r["yule_k"] - 2400.0) < 1e-9


def test_runs_test_reference(spark):
    """Perfectly alternating signs: 8 runs of 8 kept values ->
    z = 3/sigma with sigma^2 = 12/7; median value drops."""
    import math

    from from_superset_to_clickhouse_spark.operators.stats import runs_test

    seq = [1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 5.0]
    rows = [("g", i, v) for i, v in enumerate(seq)]
    df = spark.createDataFrame(rows, "g string, o int, v double")
    r = runs_test(df, "v", "o", "g").first()
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (4, 4, 8)
    sigma = math.sqrt(2 * 16 * (32 - 8) / (64.0 * 7))
    assert abs(r["z"] - 3.0 / sigma) < 1e-6
    assert r["p_value"] < 0.05  # alternation is detected


def test_winnowing_guarantee_and_pairs(spark):
    """Winnowing's core guarantee: any shared substring of length >=
    k + w - 1 yields >= 1 shared fingerprint; unrelated docs share
    none (and the pair op respects min_shared)."""
    from from_superset_to_clickhouse_spark.operators.text import (
        winnow_fingerprints,
        winnow_shared_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAA " + shared + " tail one xxxxxxx"),
        (2, "prefix two " + shared + " ZZZ yyyyyyy"),
        (3, "completely different content with no overlap at all qqq"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, "text", "doc_id", k=7, w=4)
    by_doc = {
        r["doc_id"]: set()
        for r in fp.select("doc_id").distinct().collect()
    }
    for r in fp.collect():
        by_doc[r["doc_id"]].add(r["fp_hash"])
    assert len(by_doc[1] & by_doc[2]) >= 1
    pairs = winnow_shared_pairs(
        df, "text", "doc_id", k=7, w=4, max_df=10, min_shared=1
    ).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in keys
    assert all(3 not in k for k in keys)


def test_rouge_l_reference(spark):
    """xs = (a b c d e), ys = (a c e f): LCS = 3, P = .6, R = .75,
    F = 2PR/(P+R)."""
    from from_superset_to_clickhouse_spark.operators.mleval import rouge_l

    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d", "e"], ["a", "c", "e", "f"])],
        "id long, xs array<string>, ys array<string>",
    )
    r = rouge_l(df, "id", "xs", "ys").first()
    assert (r["n_x"], r["n_y"], r["lcs"]) == (5, 4, 3)
    assert abs(r["rouge_p"] - 0.6) < 1e-9
    assert abs(r["rouge_r"] - 0.75) < 1e-9
    assert abs(r["rouge_f"] - 2 * 0.6 * 0.75 / 1.35) < 1e-6


def test_ppl_tiers_tie_coherence(spark):
    """All equal-scoring docs land in ONE tier (first-row-position
    rule): 3 copies of each of two templates -> tiers (1, 2) with 3
    docs each, never a tie split across tiers."""
    from from_superset_to_clickhouse_spark.operators.text import ppl_tiers

    # template A: a highly repeated bigram (scores HIGH under the
    # corpus LM); template B: all-distinct words (scores low) — two
    # distinct score values, three docs each.
    rows = [(i, "spam spam spam spam spam") for i in range(3)] + [
        (i, "epsilon zeta eta theta iota kappa") for i in range(3, 6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["tier"]: r for r in ppl_tiers(df, "text", "doc_id").collect()}
    assert sum(r["n_docs"] for r in out.values()) == 6
    assert all(r["n_docs"] == 3 for r in out.values())
    assert set(out) == {1, 2}  # ties stay together; tier 3 collapses
    for r in out.values():
        assert r["lo"] <= r["avg_score"] <= r["hi"]


def test_levene_var_detects_spread_shift(spark):
    """Same-center groups with 4x spread difference -> large F; equal
    spreads (mirrored data) -> F ~ 0."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        levene_var,
    )

    tight = [("a", 50.0 + (i % 11 - 5) * 0.5) for i in range(110)]
    wide = [("b", 50.0 + (i % 11 - 5) * 4.0) for i in range(110)]
    df = spark.createDataFrame(tight + wide, "g string, v double")
    r = levene_var(df, "v", "g").first()
    assert r["k"] == 2 and r["n"] == 220
    assert r["f_stat"] > 30.0
    same = spark.createDataFrame(
        tight + [("b", v) for _, v in tight], "g string, v double"
    )
    r0 = levene_var(same, "v", "g").first()
    assert r0["f_stat"] < 1e-6


def test_dsir_weights_favor_target_like_docs(spark):
    """Docs made of target-frequent tokens outscore docs of
    target-absent tokens, and reruns are identical."""
    from pyspark.sql import functions as F

    from from_superset_to_clickhouse_spark.operators.sampling import (
        dsir_weights,
    )
    from from_superset_to_clickhouse_spark.operators.text import (
        word_tokens,
    )

    docs = spark.createDataFrame(
        [(1, "wiki wiki science article"), (2, "buy cheap pills now"),
         (3, "science article wiki")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "wiki science article encyclopedia"),
         (11, "article wiki wiki science")],
        "doc_id long, text string",
    )
    w1 = {r["doc_id"]: r["log_w"] for r in dsir_weights(
        docs, target, word_tokens(F.col("text"))).collect()}
    w2 = {r["doc_id"]: r["log_w"] for r in dsir_weights(
        docs, target, word_tokens(F.col("text"))).collect()}
    assert w1 == w2
    assert w1[1] > w1[2] and w1[3] > w1[2]


def test_ipw_ate_recovers_randomized_effect(spark):
    """With treatment independent of x and a constant +5 effect, the
    Hajek IPW estimate lands near 5 (propensity fit ~ intercept)."""
    from from_superset_to_clickhouse_spark.operators.mleval import ipw_ate

    rows = []
    for i in range(400):
        t = i % 2
        x = float((i * 13) % 50)
        y = 10.0 + 0.1 * x + 5.0 * t
        rows.append((x, t, y))
    df = spark.createDataFrame(rows, "x double, t int, y double")
    r = ipw_ate(df, "x", "t", "y").first()
    assert r["n"] == 400
    assert abs(r["ate"] - 5.0) < 0.3
    assert r["ess_t"] > 100 and r["ess_c"] > 100


_TEXTS = "doc_id long, text string"
_MIXED = [(1, None), (2, "Running runners ran abab"), (3, ""), (4, "b ab")]
# op -> (call, {input name: sorted output rows}). Every op maps an empty
# input to no rows and never fails on NULL text; "null" is all-NULL text
# and "mixed" puts NULL text beside valid and empty text in one batch.
_ROW_KERNELS = {
    "heavy_hitters": (
        lambda d: sk.heavy_hitters(d, "text", k=2),
        {"null": [], "mixed": []},
    ),
    "weighted_heavy_hitters": (
        lambda d: sk.weighted_heavy_hitters(
            d.withColumn("w", F.col("doc_id") * 1.5), "text", "w", k=2
        ),
        {"null": [], "mixed": []},
    ),
    "stemmed_tokens": (
        lambda d: d.select("doc_id", txt.stemmed_tokens(F.col("text"))),
        {
            "null": [(1, None), (2, None)],
            "mixed": [(1, None), (2, ["run", "runner", "ran", "abab"]),
                      (3, []), (4, ["b", "ab"])],
        },
    ),
    "multi_needle_match": (
        lambda d: txt.multi_needle_match(d, ["ab", "b", "run"]),
        {
            "null": [],
            "mixed": [(2, "ab", 2, 21), (2, "b", 2, 22), (2, "run", 1, 9),
                      (4, "ab", 1, 3), (4, "b", 2, 1)],
        },
    ),
    "bpe_tokenize": (
        lambda d: bpe_tokenize(d, [("a", "b"), ("r", "u"), ("ru", "n")]),
        {
            "null": [(1, 0, []), (2, 0, [])],
            "mixed": [
                (1, 0, []),
                (2, 19, ["run", "n", "i", "n", "g", "</w>", "run", "n", "e",
                         "r", "s", "</w>", "r", "a", "n", "</w>", "ab", "ab",
                         "</w>"]),
                (3, 0, []),
                (4, 4, ["b", "</w>", "ab", "</w>"]),
            ],
        },
    ),
}


@pytest.mark.parametrize("op", list(_ROW_KERNELS))
def test_row_kernels_on_empty_and_null_text(spark, op):
    run, want = _ROW_KERNELS[op]
    inputs = {"empty": [], "null": [(1, None), (2, None)], "mixed": _MIXED}
    for case, rows in inputs.items():
        df = spark.createDataFrame(rows, _TEXTS).coalesce(1)
        got = sorted(map(tuple, run(df).collect()))
        assert got == want.get(case, []), case


def test_lttb_on_empty_and_null_points(spark):
    """LTTB keeps NULL-x points last in x order and passes short series
    through; an empty input gives no rows."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        lttb_downsample,
    )

    schema = "k string, x double, y double"
    mixed = [("a", 1.0, 1.0), ("a", None, 2.0), ("a", 3.0, None),
             ("a", 2.0, 5.0), ("a", 4.0, 0.0), ("a", 5.0, 3.0),
             ("b", None, 1.0)]
    for rows, want in (
        ([], []),
        ([("a", None, None)] * 2, [("a", None, None)] * 2),
        (mixed, [("a", 1.0, 1.0), ("a", 2.0, 5.0), ("a", None, 2.0),
                 ("b", None, 1.0)]),
    ):
        df = spark.createDataFrame(rows, schema)
        got = lttb_downsample(df, "k", "x", "y", n_out=3).collect()
        assert sorted(map(tuple, got), key=repr) == want
