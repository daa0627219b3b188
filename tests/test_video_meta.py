"""MP4 (ISO-BMFF) and WebM (EBML) container-metadata parsing: fixtures
are hand-assembled byte-exact containers (struct-packed boxes /
EBML elements), so every extracted field has a known true value.

Mirrors the reference's opaque-payload handling the way PNG/GIF/JPEG
were done: real structural parse, no codec decode (disclosed — the 0.5
marker in feature dim 5 distinguishes metadata-real from pixel-real).
"""

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from uckg_spark.operators.multimodal import (
    _decode_video,
    parse_mp4,
    parse_webm,
)


def box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def full(btype: bytes, version: int, payload: bytes) -> bytes:
    return box(btype, bytes([version, 0, 0, 0]) + payload)


def make_mp4(width=640, height=360, n_frames=48, timescale=1000,
             duration=2000) -> bytes:
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
    tkhd = full(b"tkhd", 0, struct.pack(">III", 0, 0, 1)
                + b"\x00" * 4          # reserved
                + struct.pack(">I", duration)
                + b"\x00" * 8          # reserved
                + struct.pack(">hhhh", 0, 0, 0, 0)  # layer/group/vol/res
                + b"\x00" * 36         # matrix
                + struct.pack(">II", width << 16, height << 16))
    hdlr = full(b"hdlr", 0, b"\x00" * 4 + b"vide" + b"\x00" * 13)
    stts = full(b"stts", 0, struct.pack(">I", 2)
                + struct.pack(">II", n_frames - 10, 40)
                + struct.pack(">II", 10, 50))
    stbl = box(b"stbl", stts)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    # a second, audio-handler track: counted in n_tracks, not video
    trak2 = box(b"trak", box(b"mdia", full(
        b"hdlr", 0, b"\x00" * 4 + b"soun" + b"\x00" * 13)))
    moov = box(b"moov", mvhd + trak + trak2)
    mdat = box(b"mdat", b"\x00" * 32)
    return ftyp + moov + mdat


def ebml(eid: int, payload: bytes) -> bytes:
    id_len = (eid.bit_length() + 7) // 8
    size = len(payload)
    # encode size as a 2-byte vint (marker 0b01 + 14 bits) — plenty here
    assert size < (1 << 14)
    return (eid.to_bytes(id_len, "big")
            + struct.pack(">H", (1 << 14) | size) + payload)


def make_webm(width=1280, height=720, duration_units=1500.0,
              ts_scale=1_000_000) -> bytes:
    header = ebml(0x1A45DFA3, ebml(0x4282, b"webm"))  # EBML > DocType
    info = ebml(0x1549A966,
                ebml(0x2AD7B1, ts_scale.to_bytes(4, "big"))
                + ebml(0x4489, struct.pack(">d", duration_units)))
    video = ebml(0xE0, ebml(0xB0, width.to_bytes(2, "big"))
                 + ebml(0xBA, height.to_bytes(2, "big")))
    t_video = ebml(0xAE, ebml(0xD7, b"\x01") + video)
    t_audio = ebml(0xAE, ebml(0xD7, b"\x02"))
    tracks = ebml(0x1654AE6B, t_video + t_audio)
    return header + ebml(0x18538067, info + tracks)


def test_mp4_fields_exact():
    got = parse_mp4(make_mp4())
    assert got == {"width": 640, "height": 360, "n_frames": 48,
                   "duration_s": 2.0, "n_tracks": 2, "n_video_tracks": 1,
                   "brand": "isom"}


def test_mp4_version1_mvhd_and_largesize():
    # 64-bit mvhd times + a box using the size==1 largesize form
    mvhd = full(b"mvhd", 1, struct.pack(
        ">QQIQ", 0, 0, 600, 1800) + b"\x00" * 80)
    moov_payload = mvhd
    moov = (struct.pack(">I", 1) + b"moov"
            + struct.pack(">Q", 16 + len(moov_payload)) + moov_payload)
    data = box(b"ftyp", b"mp42" + struct.pack(">I", 0)) + moov
    got = parse_mp4(data)
    assert got["duration_s"] == 3.0 and got["brand"] == "mp42"


def test_mp4_rejects_non_bmff():
    assert parse_mp4(b"not a video at all, just text bytes") is None
    assert parse_mp4(b"\x00" * 64) is None
    # ftyp magic but no moov → None (e.g. a truncated upload)
    assert parse_mp4(box(b"ftyp", b"isom" + b"\x00" * 8)) is None


def test_webm_fields_exact():
    got = parse_webm(make_webm())
    assert got == {"width": 1280, "height": 720, "duration_s": 1.5,
                   "n_tracks": 2, "n_video_tracks": 1}


def test_webm_rejects_non_ebml():
    assert parse_webm(b"RIFF....WEBPVP8 ") is None
    assert parse_webm(b"") is None


def test_decode_video_uses_container_metadata():
    feat = _decode_video(make_mp4())
    assert feat == [640 / 65535.0, 360 / 65535.0, 48 / 65535.0,
                    2.0 / 3600.0, 2 / 16.0, 0.5]
    feat = _decode_video(make_webm())
    assert feat[0] == 1280 / 65535.0 and feat[5] == 0.5
    # non-container payloads keep the deterministic sha fallback shape
    fallback = _decode_video(b"opaque codec bytes")
    assert len(fallback) == 6 and fallback != feat


def test_build_mp4_parse_mp4_roundtrip():
    from uckg_spark.operators.multimodal import build_mp4

    for w, h, nf in [(160, 90, 24), (1920, 1080, 263), (8, 8, 1)]:
        got = parse_mp4(build_mp4(w, h, nf))
        assert (got["width"], got["height"], got["n_frames"]) == (w, h, nf)
        assert got["duration_s"] == nf * 40 / 1000
        assert got["n_tracks"] == 1 and got["n_video_tracks"] == 1


@settings(max_examples=40, deadline=None)
@given(w=st.integers(1, 65535), h=st.integers(1, 65535),
       nf=st.integers(1, 100000), ts=st.integers(1, 1 << 31),
       delta=st.integers(1, 10000))
def test_build_parse_mp4_property(w, h, nf, ts, delta):
    from uckg_spark.operators.multimodal import build_mp4

    got = parse_mp4(build_mp4(w, h, nf, timescale=ts, frame_delta=delta))
    assert (got["width"], got["height"], got["n_frames"]) == (w, h, nf)
    assert got["duration_s"] == nf * delta / ts


@settings(max_examples=40, deadline=None)
@given(payload=st.binary(max_size=256))
def test_parse_mp4_never_raises_on_garbage(payload):
    # arbitrary bytes (incl. ftyp-prefixed ones) must parse or refuse,
    # never throw — executors see truncated/corrupt uploads
    parse_mp4(payload)
    parse_mp4(b"\x00\x00\x00\x10ftyp" + payload)
    parse_webm(payload)
    parse_webm(b"\x1aE\xdf\xa3" + payload)


def test_extract_features_real_mp4_path(spark):
    from uckg_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    media = spark.createDataFrame(
        [(1, "video", "video/mp4", make_mp4(), {}),
         (2, "video", "video/webm", make_webm(), {}),
         (3, "video", "video/x-unknown", b"\xde\xad\xbe\xef" * 16, {})],
        MEDIA_SCHEMA)
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows[1]["feature"][5] == 0.5 and rows[2]["feature"][5] == 0.5
    assert abs(rows[1]["feature"][0] - 640 / 65535.0) < 1e-6
    assert rows[3]["feature"][5] != 0.5


def test_parse_mp4_empty_stts_box_at_payload_end():
    """An 8-byte (empty-payload) stts box ending exactly at end-of-payload
    must not IndexError (full_box would read payload[len(payload)]) —
    the nesting is too deep for the hypothesis garbage test to reach."""
    from uckg_spark.operators.multimodal import parse_mp4

    def box(t, payload=b""):
        return (8 + len(payload)).to_bytes(4, "big") + t + payload

    stts = box(b"stts")  # header only: e4 - b4 == 0
    mdia = box(b"mdia", box(b"hdlr", b"\0" * 8 + b"vide")
               + box(b"minf", box(b"stbl", stts)))
    ftyp = box(b"ftyp", b"isom\x00\x00\x00\x01isom")
    moov = box(b"moov", box(b"trak", mdia))
    parse_mp4(ftyp + moov)  # must not raise


def test_parse_webm_unknown_size_segment():
    """A streamed WebM's Segment uses the all-ones (unknown-size) vint;
    the walk must treat it as extending to end-of-payload, not abort."""
    from uckg_spark.operators.multimodal import parse_webm

    # hand-build: EBML header + Segment (unknown size) > Info(TimestampScale)
    def vint(n):  # 1-byte vint
        return bytes([0x80 | n])

    def elem(eid_bytes, payload):
        return eid_bytes + vint(len(payload)) + payload

    info = elem(b"\x15\x49\xa9\x66",
                elem(b"\x2a\xd7\xb1", (500_000).to_bytes(3, "big")))
    tracks = elem(b"\x16\x54\xae\x6b", elem(
        b"\xae", elem(b"\xe0",
                      elem(b"\xb0", (320).to_bytes(2, "big"))
                      + elem(b"\xba", (176).to_bytes(2, "big")))))
    seg = b"\x18\x53\x80\x67" + b"\xff" + info + tracks  # 0xFF = unknown size
    hdr = elem(b"\x1a\x45\xdf\xa3", b"")
    meta = parse_webm(hdr + seg)
    assert meta is not None
    assert meta["width"] == 320 and meta["height"] == 176
    assert meta["n_tracks"] == 1 and meta["n_video_tracks"] == 1


def test_parse_mp4_multitrack_fields_from_one_track():
    """Multi-video-track MP4: width/height and n_frames must describe
    the SAME (max-frames) track, not a mix."""
    from uckg_spark.operators.multimodal import parse_mp4

    def box(t, payload=b""):
        return (8 + len(payload)).to_bytes(4, "big") + t + payload

    def full(t, ver_flags, payload):
        return box(t, ver_flags + payload)

    def trak(w, h, nf):
        tkhd = full(b"tkhd", b"\0\0\0\0",
                    b"\0" * (20 + 8 + 2 + 2 + 2 + 2 + 36)
                    + (w << 16).to_bytes(4, "big")
                    + (h << 16).to_bytes(4, "big"))
        stts = full(b"stts", b"\0\0\0\0",
                    (1).to_bytes(4, "big")
                    + nf.to_bytes(4, "big") + (1).to_bytes(4, "big"))
        mdia = box(b"mdia", full(b"hdlr", b"\0\0\0\0", b"\0" * 4 + b"vide")
                   + box(b"minf", box(b"stbl", stts)))
        return box(b"trak", tkhd + mdia)

    ftyp = box(b"ftyp", b"isom\x00\x00\x00\x01isom")
    moov = box(b"moov", trak(640, 360, 48) + trak(320, 180, 12))
    meta = parse_mp4(ftyp + moov)
    assert meta["n_frames"] == 48
    assert (meta["width"], meta["height"]) == (640, 360)
    # the max-frames track has no dimensions: its own zeros, not the
    # width/height of the earlier track
    meta = parse_mp4(ftyp + box(b"moov", trak(640, 360, 12) + trak(0, 0, 48)))
    assert (meta["n_frames"], meta["width"], meta["height"]) == (48, 0, 0)
    # no track has frames: the first video track with dimensions
    meta = parse_mp4(ftyp + box(b"moov", trak(0, 0, 0) + trak(320, 180, 0)
                                + trak(640, 360, 0)))
    assert (meta["n_frames"], meta["width"], meta["height"]) == (0, 320, 180)
