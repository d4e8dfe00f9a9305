"""WebDataset ingestion against synthesized tar shards: member
extraction, first-dot key grouping, sample regrouping, and composition
with the media kernels (a real PNG payload decoded from a shard)."""

from __future__ import annotations

import io
import struct
import tarfile
import zlib

from sec_xbrl_finwarehouse_spark.sources.webdataset import (
    read_webdataset_members,
    read_webdataset_samples,
)


def _png_2x2() -> bytes:
    """Minimal valid 2x2 RGB PNG (deterministic, stdlib-only)."""
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    raw = b"\x00\xff\x00\x00\x00\xff\x00" + b"\x00\x00\x00\xff\xff\xff\x00"
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _shard(samples: dict[str, dict[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, parts in samples.items():
            for ext, payload in parts.items():
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def _write_shards(tmp_path):
    d = tmp_path / "wds"
    d.mkdir()
    (d / "shard-000.tar").write_bytes(_shard({
        "000001": {"txt": b"a cat photo", "jpg": b"\xff\xd8fakejpeg",
                   "json": b'{"license": "cc"}'},
        "000002": {"txt": b"a dog", "png": _png_2x2()},
    }))
    (d / "shard-001.tar").write_bytes(_shard({
        "000003": {"txt": b"third", "seg.png": b"maskbytes"},
    }))
    return str(d / "*.tar")


def test_members_long_frame(spark, tmp_path):
    glob = _write_shards(tmp_path)
    m = read_webdataset_members(spark, glob)
    rows = {(r["key"], r["ext"]): r for r in m.collect()}
    assert len(rows) == 7  # 3 + 2 + 2 members across the two shards
    assert rows[("000001", "txt")]["payload"] == b"a cat photo"
    # first-dot rule: seg.png is ONE ext on key 000003
    assert ("000003", "seg.png") in rows
    assert rows[("000002", "png")]["n_bytes"] == len(_png_2x2())


def test_samples_regroup(spark, tmp_path):
    glob = _write_shards(tmp_path)
    s = read_webdataset_samples(spark, glob)
    by_key = {r["key"]: r for r in s.collect()}
    assert set(by_key) == {"000001", "000002", "000003"}
    assert by_key["000001"]["n_parts"] == 3
    assert set(by_key["000001"]["parts"].keys()) == {"txt", "jpg", "json"}
    assert by_key["000003"]["parts"]["seg.png"] == b"maskbytes"
    assert by_key["000002"]["n_bytes"] == 5 + len(_png_2x2())


def test_shard_payload_feeds_media_kernels(spark, tmp_path):
    """A PNG pulled out of a shard decodes through the real PNG path
    of the multimodal kernels (decoded_real = true)."""
    from pyspark.sql import functions as F

    from sec_xbrl_finwarehouse_spark.functions.multimodal import (
        image_features,
    )

    glob = _write_shards(tmp_path)
    s = read_webdataset_samples(spark, glob)
    media = s.filter(F.map_contains_key("parts", "png")).select(
        F.xxhash64("key").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("parts")["png"].alias("payload"),
        F.named_struct(
            F.lit("width"), F.lit(2), F.lit("height"), F.lit(2),
            F.lit("channels"), F.lit(3),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("duration_ms"), F.lit(None).cast("int"),
            F.lit("format"), F.lit("png"),
        ).alias("meta"),
    )
    feats = image_features(media).collect()
    assert len(feats) == 1
    assert feats[0]["decoded_real"] is True


def test_dotted_directory_keys_group_correctly(spark, tmp_path):
    """Dots in DIRECTORY names are data, not key separators: members
    under ``shard.v2/`` must key on the basename's first dot with the
    directory prefix preserved (regression: the full-path first-dot
    split collapsed every sample in a dotted directory to one key)."""
    d = tmp_path / "wdsdot"
    d.mkdir()
    (d / "s.tar").write_bytes(_shard({
        "shard.v2/000123": {"jpg": b"img-a", "txt": b"cap-a"},
        "shard.v2/000124": {"jpg": b"img-b"},
        "plain/000125.seg": {"png": b"mask"},  # dotted BASENAME splits
    }))
    m = read_webdataset_members(spark, str(d / "s.tar"))
    rows = {(r["key"], r["ext"]) for r in m.collect()}
    assert rows == {
        ("shard.v2/000123", "jpg"), ("shard.v2/000123", "txt"),
        ("shard.v2/000124", "jpg"), ("plain/000125", "seg.png"),
    }
    s = read_webdataset_samples(spark, str(d / "s.tar"))
    by_key = {r["key"]: r["n_parts"] for r in s.collect()}
    assert by_key == {"shard.v2/000123": 2, "shard.v2/000124": 1,
                      "plain/000125": 1}


def test_member_batches_stream_incrementally(spark, tmp_path):
    """With the batch bound forced tiny, one shard must survive MANY
    kernel flushes losslessly — proof member extraction streams in
    bounded batches instead of materializing the shard."""
    d = tmp_path / "wdsbig"
    d.mkdir()
    payload = b"x" * 1024
    (d / "s.tar").write_bytes(_shard({
        f"{i:06d}": {"bin": payload} for i in range(64)
    }))
    m = read_webdataset_members(spark, str(d / "s.tar"),
                                batch_bytes=4 * 1024, batch_rows=7)
    rows = m.collect()
    assert len(rows) == 64
    assert {r["key"] for r in rows} == {f"{i:06d}" for i in range(64)}
    assert all(r["payload"] == payload for r in rows)


def _member_rows(spark, rows):
    return spark.createDataFrame(
        rows, "key string, ext string, payload binary"
    )


def test_write_webdataset_round_trip(spark, tmp_path):
    from sec_xbrl_finwarehouse_spark.sources.webdataset import (
        write_webdataset_shards,
    )

    rows = [
        ("a/000001", "jpg", b"\xff\xd8jpgbytes"),
        ("a/000001", "json", b'{"cap": "x"}'),
        ("shard.v2/000002", "seg.png", _png_2x2()),  # dotted dir + 2-part ext
        ("shard.v2/000002", "txt", b"caption two"),
        ("000003", "txt", b"bare key"),
    ]
    out = str(tmp_path / "wds_out")
    manifest = write_webdataset_shards(
        _member_rows(spark, rows), out, n_shards=2, prefix="train"
    ).collect()
    assert sum(r["n_members"] for r in manifest) == 5
    assert sum(r["n_samples"] for r in manifest) == 3
    assert sum(r["n_bytes"] for r in manifest) == sum(len(p) for _, _, p in rows)
    got = {
        (r["key"],): r["parts"]
        for r in read_webdataset_samples(spark, f"{out}/*.tar").collect()
    }
    want = {}
    for key, ext, payload in rows:
        want.setdefault((key,), {})[ext] = payload
    assert {k: dict(v) for k, v in got.items()} == want


def test_write_webdataset_sample_colocation_and_determinism(spark, tmp_path):
    import hashlib
    import os

    from sec_xbrl_finwarehouse_spark.sources.webdataset import (
        write_webdataset_shards,
    )

    rows = [
        (f"{i:06d}", ext, (f"{i}-{ext}" * 7).encode())
        for i in range(40)
        for ext in ("jpg", "txt")
    ]
    df = _member_rows(spark, rows)
    outs = []
    for sub in ("w1", "w2"):
        out = str(tmp_path / sub)
        write_webdataset_shards(df, out, n_shards=4).collect()
        outs.append(out)
    # determinism: both runs produce byte-identical shard sets
    digests = []
    for out in outs:
        digests.append({
            f: hashlib.sha256(open(os.path.join(out, f), "rb").read())
            .hexdigest()
            for f in sorted(os.listdir(out))
        })
    assert digests[0] == digests[1]
    assert len(digests[0]) >= 2  # really sharded
    # co-location: every sample's members sit in exactly ONE shard
    members = read_webdataset_members(spark, f"{outs[0]}/*.tar").collect()
    shard_of = {}
    for r in members:
        shard_of.setdefault(r["key"], set()).add(r["shard"])
    assert all(len(s) == 1 for s in shard_of.values())
    assert len(members) == len(rows)


def test_write_webdataset_rejects_dotted_key_basename(spark, tmp_path):
    import pytest as _pytest

    from sec_xbrl_finwarehouse_spark.sources.webdataset import (
        write_webdataset_shards,
    )

    # "img.v2" + "jpg" would reparse as key "img", ext "v2.jpg" — and
    # a sibling key "img" could land in a DIFFERENT shard, splitting
    # one logical sample: must be rejected, not silently written
    df = _member_rows(spark, [("img.v2", "jpg", b"x")])
    with _pytest.raises(Exception, match="basename contains a dot"):
        write_webdataset_shards(df, str(tmp_path / "bad"), n_shards=2).collect()
    # dots in DIRECTORY components are data, not separators: fine
    ok = _member_rows(spark, [("dir.v2/000001", "jpg", b"x")])
    m = write_webdataset_shards(ok, str(tmp_path / "ok"), n_shards=2).collect()
    assert sum(r["n_members"] for r in m) == 1


def test_write_webdataset_precleans_stale_shards(spark, tmp_path):
    import os

    from sec_xbrl_finwarehouse_spark.sources.webdataset import (
        write_webdataset_shards,
    )

    out = str(tmp_path / "out")
    big = _member_rows(
        spark, [(f"{i:06d}", "txt", b"payload") for i in range(40)]
    )
    write_webdataset_shards(big, out, n_shards=4).collect()
    first = set(os.listdir(out))
    # re-run with FEWER shards: the first run's higher-numbered tars
    # must not survive to be merged by a *.tar glob
    small = _member_rows(spark, [("000001", "txt", b"only")])
    write_webdataset_shards(small, out, n_shards=1).collect()
    left = [f for f in os.listdir(out) if f.endswith(".tar")]
    assert left == ["shard-00000.tar"], (first, left)
    got = read_webdataset_samples(spark, f"{out}/*.tar").collect()
    assert len(got) == 1 and got[0]["key"] == "000001"


def test_write_webdataset_samples_level_and_pipeline_compose(spark, tmp_path):
    """End-to-end transform pipeline: ingest tar shards as samples,
    resize the decodable image payloads through the real PNG decoder,
    re-export the transformed corpus via the samples-level writer, and
    read it back — the full read -> transform -> write -> read loop a
    training-data pipeline runs."""
    from pyspark.sql import functions as F

    from sec_xbrl_finwarehouse_spark.functions.multimodal import (
        resize_images,
    )
    from sec_xbrl_finwarehouse_spark.sources.webdataset import (
        write_webdataset,
    )

    glob = _write_shards(tmp_path)
    samples = read_webdataset_samples(spark, glob)
    # transform: resize every png part through the REAL decoder kernel
    pngs = (
        samples.filter(F.map_contains_key("parts", "png"))
        .select(
            F.xxhash64("key").alias("media_id"),
            F.col("parts")["png"].alias("payload"),
            F.lit("image").alias("kind"),
            "key",
        )
    )
    keyed = {r["media_id"]: r["key"] for r in pngs.collect()}
    resized = resize_images(
        pngs.select("media_id", "payload", "kind"), 1, 1
    )
    pixels = {
        keyed[r["media_id"]]: r["pixels"] for r in resized.collect()
    }
    assert pixels  # the 2x2 PNG fixture decoded and resized
    # re-export: REALLY swap the png payload for the resized pixel
    # buffer (map_filter out the old entry, map_concat the new one in)
    pix_df = spark.createDataFrame(
        [(k, v) for k, v in pixels.items()], "key string, pixels binary"
    )
    transformed = samples.join(pix_df, "key", "left").select(
        "key",
        F.when(
            F.col("pixels").isNotNull(),
            F.map_concat(
                F.map_filter("parts", lambda k, v: k != F.lit("png")),
                F.create_map(F.lit("png"), F.col("pixels")),
            ),
        ).otherwise(F.col("parts")).alias("parts"),
    )
    out = str(tmp_path / "resized_out")
    manifest = write_webdataset(
        transformed, out, n_shards=2, prefix="resized"
    ).collect()
    assert sum(r["n_samples"] for r in manifest) == samples.count()
    back = {
        r["key"]: dict(r["parts"])
        for r in read_webdataset_samples(spark, f"{out}/*.tar").collect()
    }
    orig = {r["key"]: dict(r["parts"]) for r in samples.collect()}
    assert set(back) == set(orig)
    for key, parts in orig.items():
        if key in pixels:  # the transformed sample: png bytes REPLACED
            assert back[key]["png"] == pixels[key]
            assert back[key]["png"] != parts["png"]
            rest = {e: p for e, p in parts.items() if e != "png"}
            assert {e: p for e, p in back[key].items() if e != "png"} == rest
        else:  # untouched samples round-trip bit-for-bit
            assert back[key] == parts


def test_incremental_ingest_only_new_shards(spark, tmp_path):
    import os

    from sec_xbrl_finwarehouse_spark import sinks
    from sec_xbrl_finwarehouse_spark.sources.webdataset_ingest import (
        ingest_webdataset_incremental,
        ingested_shards,
    )

    pool = tmp_path / "pool"
    pool.mkdir()
    table = str(tmp_path / "samples_table")
    (pool / "shard-000.tar").write_bytes(_shard({
        "000001": {"txt": b"one", "jpg": b"j1"},
        "000002": {"txt": b"two"},
    }))
    glob = f"{pool}/*.tar"

    r1 = ingest_webdataset_incremental(spark, glob, table)
    assert r1["new_shards"] == 1 and r1["appended_files"] >= 1
    t1 = sinks.read_table(spark, table)
    assert t1.count() == 2
    assert len(ingested_shards(table)) == 1

    # second run, nothing new: no read, no publish
    versions_before = len(sinks.list_versions(table))
    r2 = ingest_webdataset_incremental(spark, glob, table)
    assert r2["new_shards"] == 0
    assert len(sinks.list_versions(table)) == versions_before

    # a new shard arrives: ONLY it is ingested
    (pool / "shard-001.tar").write_bytes(_shard({
        "000003": {"txt": b"three"},
    }))
    r3 = ingest_webdataset_incremental(spark, glob, table)
    assert r3["new_shards"] == 1
    t3 = sinks.read_table(spark, table)
    assert t3.count() == 3
    assert {r["key"] for r in t3.collect()} == {"000001", "000002", "000003"}
    assert len(ingested_shards(table)) == 2

    # (watermark-loss / re-scan recovery is covered by
    # test_incremental_ingest_duplicate_shard_advances_watermark)


def test_incremental_ingest_duplicate_shard_advances_watermark(spark, tmp_path):
    from sec_xbrl_finwarehouse_spark import sinks
    from sec_xbrl_finwarehouse_spark.sources.webdataset_ingest import (
        ingest_webdataset_incremental,
        ingested_shards,
    )

    pool = tmp_path / "pool"
    pool.mkdir()
    table = str(tmp_path / "t")
    content = _shard({"000001": {"txt": b"same"}})
    (pool / "a.tar").write_bytes(content)
    ingest_webdataset_incremental(spark, f"{pool}/*.tar", table)

    # a COPY of the shard under a new name: its samples are new rows
    # under (shard, key) keys -- but now plant a shard whose (shard,
    # key) rows are ALREADY present: re-listing after watermark loss
    meta_before = ingested_shards(table)
    # simulate watermark loss by rewriting the table without the meta
    df = sinks.read_table(spark, table)
    data_cols = [c for c in df.columns]
    sinks.write_replace(df.select(*data_cols), table)
    assert ingested_shards(table) == set()

    cur_before = next(
        v["version"] for v in sinks.list_versions(table) if v["is_current"]
    )
    r = ingest_webdataset_incremental(spark, f"{pool}/*.tar", table)
    # shard re-scanned (it looks new), zero rows appended, but the
    # watermark STILL advances via the meta-only commit (a NEW current
    # version with identical data; retention may prune older ones)
    assert r["new_shards"] == 1 and r["appended_files"] == 0
    assert ingested_shards(table) == meta_before
    assert sinks.read_table(spark, table).count() == 1
    cur_after = next(
        v["version"] for v in sinks.list_versions(table) if v["is_current"]
    )
    assert cur_after != cur_before


def test_commit_meta_only_preserves_data_and_prior_meta(spark, tmp_path):
    from sec_xbrl_finwarehouse_spark import sinks

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    sinks.write_replace(df, table, manifest_extra={"_other": "keepme"})
    sinks.commit_meta_only(table, {"_watermark": "42"})
    assert sinks.read_version_meta(table, "_watermark") == "42"
    # prior metadata carries forward across the meta-only publish
    assert sinks.read_version_meta(table, "_other") == "keepme"
    got = sinks.read_table(spark, table)
    assert {(r["k"], r["v"]) for r in got.collect()} == {(1, "a"), (2, "b")}
