"""functions/mp4.py — ISO-BMFF box-walk round-trips against the
independent writer, the refuse-loudly error contract, a fuzz sweep
(the container parsers' shared exception discipline), and the
video_inventory row contract over the deterministic corpus."""

import numpy as np
import pytest

from mcp_ocr_server_spark.functions.mp4 import (
    encode_mp4,
    mp4_metadata,
    parse_mp4_frames,
    walk_boxes,
)
from mcp_ocr_server_spark.functions.multimodal import video_inventory_row


def test_roundtrip_metadata():
    d = encode_mp4(12.5, codec=b"hev1", width=1920, height=1080,
                   n_frames=300)
    assert mp4_metadata(d) == {
        "n_tracks": 1, "brand": "isom", "duration_s": 12.5,
        "codec": "hev1", "width": 1920, "height": 1080,
        "n_frames": 300, "rotation": 0,
    }


def test_tkhd_rotation_roundtrip():
    """The tkhd display matrix carries the phone-camera rotation; all
    four quarter-turns round-trip, and a sheared (non-90°) matrix
    reports None rather than a wrong snap."""
    for rot in (0, 90, 180, 270):
        m = mp4_metadata(encode_mp4(1.0, rotation=rot))
        assert m["rotation"] == rot, rot
    import struct as _s

    d = encode_mp4(1.0)
    # overwrite the TKHD matrix (the SECOND unity matrix — mvhd
    # carries the first) with a 45° rotation: not a multiple of 90
    # -> rotation must surface as None
    k = int(round(0.7071 * 65536))
    unity = _s.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                    0x40000000)
    second = d.find(unity, d.find(unity) + 1)
    assert second != -1
    sheared = (d[:second]
               + _s.pack(">9i", k, k, 0, -k, k, 0, 0, 0, 0x40000000)
               + d[second + len(unity):])
    assert mp4_metadata(sheared)["rotation"] is None


def test_roundtrip_varied():
    for dur, codec, w, h, n in [(0.25, b"avc1", 320, 180, 6),
                                (3600.0, b"mp4v", 4096, 2160, 86400)]:
        m = mp4_metadata(encode_mp4(dur, codec=codec, width=w,
                                    height=h, n_frames=n))
        assert (m["duration_s"], m["codec"], m["width"], m["height"],
                m["n_frames"]) == (dur, codec.decode(), w, h, n)


def test_walk_boxes_siblings():
    d = encode_mp4(1.0)
    types = [t for t, _, _ in walk_boxes(d, 0, len(d))]
    assert types == [b"ftyp", b"moov", b"mdat"]


def test_error_contract():
    good = encode_mp4(3.0)
    with pytest.raises(ValueError, match="EBML"):
        mp4_metadata(b"\x1a\x45\xdf\xa3" + good[4:])
    with pytest.raises(ValueError, match="no ftyp"):
        mp4_metadata(b"XXXXxxxxYYYY")
    with pytest.raises(ValueError, match="overruns|truncated"):
        mp4_metadata(good[:40])
    b = bytearray(good)
    assert b[32:36] == b"moov"
    b[28:32] = b"\xff\xff\xff\xff"   # moov size field -> overrun
    with pytest.raises(ValueError, match="overruns"):
        mp4_metadata(bytes(b))
    with pytest.raises(ValueError, match="no moov"):
        mp4_metadata(good[:28] + good[-72:])   # ftyp + mdat only


def test_uniform_stsz_count_bounded_by_file():
    # metadata reads a uniform-size stsz count without allocating it;
    # demuxing refuses a count whose samples cannot lie in the file
    b = bytearray(encode_mp4(1.0))
    q = b.index(b"stsz") + 12         # past type, version/flags, size
    b[q:q + 4] = (0xFFFFFFFF).to_bytes(4, "big")
    assert mp4_metadata(bytes(b))["n_frames"] == 0xFFFFFFFF
    with pytest.raises(ValueError, match="stsz declares more sample bytes"):
        parse_mp4_frames(bytes(b))


def _with_chunk_tables(stsc: list[tuple[int, int]], n_chunks: int) -> bytes:
    """A one-sample (b"x") video mp4 whose stsc holds `stsc` and whose
    stco holds `n_chunks` offsets, all pointing at that sample."""
    import struct as _s

    good = encode_mp4(1.0, frames=[b"x"])

    def full(t, body):
        return _s.pack(">I", 12 + len(body)) + t + b"\x00" * 4 + body

    def span(t):
        start = good.index(t) - 4
        return start, start + int.from_bytes(good[start:start + 4], "big")

    old_stsc, old_stco = span(b"stsc"), span(b"stco")
    new_stsc = full(b"stsc", _s.pack(">I", len(stsc)) + b"".join(
        _s.pack(">III", first, spc, 1) for first, spc in stsc))

    def stco(off):
        return full(b"stco", _s.pack(">I", n_chunks)
                    + _s.pack(">I", off) * n_chunks)

    delta = (len(new_stsc) + len(stco(0))
             - (old_stsc[1] - old_stsc[0]) - (old_stco[1] - old_stco[0]))
    # mdat is last and its payload is the one sample
    new_stco = stco(len(good) + delta - 1)
    assert old_stsc[1] <= old_stco[0]
    b = bytearray(good[:old_stsc[0]] + new_stsc
                  + good[old_stsc[1]:old_stco[0]] + new_stco
                  + good[old_stco[1]:])
    for t in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        q = b.index(t) - 4
        size = int.from_bytes(b[q:q + 4], "big") + delta
        b[q:q + 4] = size.to_bytes(4, "big")
    return bytes(b)


def test_chunk_tables_demux_in_linear_time():
    # stsc x stco rescans were quadratic in counts the file declares:
    # a ~1 MB file of 65,536 entries each took minutes to demux
    import time

    n = 1 << 16
    d = _with_chunk_tables([(i + 1, 1) for i in range(n)], n)
    assert len(d) > 1_000_000
    t0 = time.perf_counter()
    assert parse_mp4_frames(d) == [b"x"]
    assert time.perf_counter() - t0 < 5.0


def test_stsc_first_chunk_must_increase():
    assert parse_mp4_frames(_with_chunk_tables([(1, 1), (2, 1)], 2)) == [
        b"x"]
    for stsc in ([(1, 1), (1, 1)], [(2, 1), (1, 1)]):
        with pytest.raises(ValueError, match="stsc first_chunk"):
            parse_mp4_frames(_with_chunk_tables(stsc, 2))


def test_co64_refused_by_name():
    # a track whose chunk offsets are 64-bit (co64, not stco) still
    # reports metadata, but the demuxer refuses it by name rather than
    # as a track without sample tables
    good = encode_mp4(1.0, frames=[b"x"])
    assert good.count(b"stco") == 1
    d = good.replace(b"stco", b"co64")
    assert mp4_metadata(d)["n_frames"] == 1
    with pytest.raises(ValueError, match="co64 chunk offsets unsupported"):
        parse_mp4_frames(d)


def test_fuzz_exception_discipline():
    # every corruption either parses or raises ValueError — never a
    # foreign exception, never a hang (the avi/audio_meta contract)
    good = encode_mp4(2.0)
    rng = np.random.default_rng(42)
    for _ in range(300):
        b = bytearray(good)
        for _ in range(rng.integers(1, 4)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            mp4_metadata(bytes(b))
        except ValueError:
            pass
    for cut in range(0, len(good), 7):
        try:
            mp4_metadata(good[:cut])
        except ValueError:
            pass


def test_video_inventory_rows_over_corpus():
    from mcp_ocr_server_spark.queries import FLAGSHIP_CORPUS
    from mcp_ocr_server_spark.sources.synthetic import (
        N_VIDEO_SNIFF_CLIPS,
        video_sniff_item,
    )

    kinds = {}
    for j in range(N_VIDEO_SNIFF_CLIPS):
        ref, data, kind = video_sniff_item(FLAGSHIP_CORPUS, j)
        row = video_inventory_row(ref, data)
        kinds[kind] = kinds.get(kind, 0) + 1
        if kind == "avi":
            assert row["error"] is None and row["container"] == "avi"
            assert row["codec"] in ("MJPG", "PNG ") and row["duration_s"] > 0
        elif kind in ("mp4_avc1", "mp4_hev1"):
            assert row["error"] is None and row["container"] == "mp4"
            assert row["codec"] == kind[4:]
            assert row["width"] > 0 and row["n_frames"] > 0
        elif kind in ("webm", "matroska"):
            # real EBML walk (functions/mkv.py): metadata, not an
            # error row
            assert row["error"] is None, row
            assert row["container"] == kind
            assert row["codec"] and row["width"] > 0
            assert row["duration_s"] > 0
        else:
            assert row["error"], (kind, row)
    assert set(kinds) == {"avi", "mp4_avc1", "mp4_hev1",
                          "mp4_truncated", "webm", "matroska",
                          "garbage"}
