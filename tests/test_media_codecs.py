"""RIFF container codecs (functions/media.py) — layout edge cases the
public spec mandates: word-aligned chunks, 4-byte DIB row padding,
bottom-up BGR order, honest errors on unsupported codecs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from eo_tools_spark.functions.media import (
    decode_avi,
    decode_wav,
    encode_avi,
    encode_wav,
)


class TestWav:
    def test_roundtrip_exact(self):
        rng = np.random.default_rng(3)
        for n in (1, 100, 101, 4096):
            s = rng.integers(-32768, 32767, n).astype(np.int16)
            rate, t = decode_wav(encode_wav(s, 22050))
            assert rate == 22050 and np.array_equal(s, t)

    def test_odd_data_chunk_is_word_aligned(self):
        """1 sample → 2-byte data chunk (even); check an odd-sized
        trailing chunk scenario via a hand-built extra chunk."""
        s = np.array([7], dtype=np.int16)
        b = encode_wav(s, 8000)
        # append an odd-sized unknown chunk + pad, then data must still
        # be found when the unknown chunk comes first
        extra = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"
        rebuilt = b[:12] + extra + b[12:]
        rebuilt = rebuilt[:4] + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
        rate, t = decode_wav(rebuilt)
        assert rate == 8000 and np.array_equal(t, s)

    def test_non_pcm_raises(self):
        s = np.zeros(4, dtype=np.int16)
        b = bytearray(encode_wav(s, 8000))
        # fmt tag lives right after 'fmt '+size — flip PCM(1) → ALAW(6)
        i = b.index(b"fmt ") + 8
        b[i:i + 2] = struct.pack("<H", 6)
        with pytest.raises(ValueError, match="codec"):
            decode_wav(bytes(b))

    def test_garbage_raises(self):
        with pytest.raises(ValueError):
            decode_wav(b"\x00" * 64)


class TestAvi:
    def test_roundtrip_exact_odd_dims(self):
        """Odd widths exercise the 4-byte DIB row stride."""
        rng = np.random.default_rng(5)
        for (n, h, w) in [(2, 7, 5), (3, 16, 17), (1, 1, 1), (4, 3, 31)]:
            f = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
            g = decode_avi(encode_avi(f, fps=25))
            assert np.array_equal(f, g), (n, h, w)

    def test_dib_rows_are_bottom_up_bgr(self):
        """Pin the byte layout itself (not just the roundtrip): the
        first stored row of the DIB is the LAST image row, in BGR."""
        f = np.zeros((1, 2, 1, 3), dtype=np.uint8)
        f[0, 0, 0] = (1, 2, 3)    # top row RGB
        f[0, 1, 0] = (9, 8, 7)    # bottom row RGB
        b = encode_avi(f)
        i = b.index(b"00db") + 8
        stride = 4  # w*3=3 padded to 4
        first_row = b[i:i + 3]
        assert first_row == bytes([7, 8, 9])  # bottom row, BGR
        second_row = b[i + stride:i + stride + 3]
        assert second_row == bytes([3, 2, 1])

    def test_compressed_stream_raises(self):
        f = np.zeros((1, 4, 4, 3), dtype=np.uint8)
        b = bytearray(encode_avi(f))
        i = b.index(b"strf") + 8 + 16  # biCompression offset in BITMAPINFOHEADER
        b[i:i + 4] = struct.pack("<I", 0x44495658)  # 'XVID'
        with pytest.raises(ValueError, match="compression"):
            decode_avi(bytes(b))


class TestMjpgAvi:
    """MJPEG-in-AVI (round-5 verdict task 3): real container layout,
    per-frame payload codec dispatched on payload magic."""

    def test_mjpg_roundtrip_is_qjpg_quantization(self):
        from eo_tools_spark.functions.imaging import qjpg_decode, qjpg_encode

        rng = np.random.default_rng(9)
        for (n, h, w) in [(2, 7, 5), (3, 16, 17), (1, 1, 1)]:
            f = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
            b = encode_avi(f, fps=25, codec="MJPG")
            g = decode_avi(b)
            truth = np.stack([qjpg_decode(qjpg_encode(fr), w, h, 3) for fr in f])
            assert np.array_equal(g, truth), (n, h, w)
            # lossy but bounded (6-bit mid-tread: max error 2)
            assert int(np.abs(g.astype(np.int16) - f.astype(np.int16)).max()) <= 2

    def test_mjpg_container_markers(self):
        """Pin the container layout: MJPG fccHandler + biCompression,
        '00dc' chunks (not '00db'), variable-size payloads."""
        f = np.zeros((2, 4, 4, 3), dtype=np.uint8)
        b = encode_avi(f, codec="MJPG")
        i = b.index(b"strh") + 8
        assert b[i:i + 4] == b"vids" and b[i + 4:i + 8] == b"MJPG"
        j = b.index(b"strf") + 8 + 16
        assert b[j:j + 4] == b"MJPG"  # biCompression fourcc
        assert b.count(b"00dc") == 2 and b"00db" not in b

    def test_mjpg_frames_are_top_down_rgb(self):
        """Real MJPEG stores frames top-down (JPEG order), unlike the
        bottom-up BGR DIB path — pin via the qjpg payload bytes."""
        f = np.zeros((1, 2, 1, 3), dtype=np.uint8)
        f[0, 0, 0] = (200, 100, 40)   # top row RGB
        b = encode_avi(f, codec="MJPG")
        i = b.index(b"00dc") + 8
        # first stored pixel is the TOP row, RGB order, 6-bit planes
        assert b[i:i + 3] == bytes([200 >> 2, 100 >> 2, 40 >> 2])

    def test_mjpg_png_payload_decodes_with_real_png_codec(self):
        from eo_tools_spark.functions.imaging import png_encode
        from eo_tools_spark.functions.media import _chunk, _list

        rng = np.random.default_rng(3)
        h, w = 5, 6
        frames = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(2)]
        # build the container by hand with PNG payloads
        ref = bytearray(encode_avi(np.stack(frames), codec="MJPG"))
        hdr_start = ref.index(b"LIST")
        movi_start = ref.index(b"movi") - 8
        movi = _list(b"movi", b"".join(_chunk(b"00dc", png_encode(fr)) for fr in frames))
        body = bytes(ref[8:movi_start]) + movi
        b = b"RIFF" + struct.pack("<I", len(body)) + body
        g = decode_avi(b)
        assert np.array_equal(g, np.stack(frames))  # PNG is lossless

    def test_mjpg_real_jpeg_payload_raises_honest_seam(self):
        from eo_tools_spark.functions.media import _chunk, _list

        f = np.zeros((1, 4, 4, 3), dtype=np.uint8)
        ref = bytearray(encode_avi(f, codec="MJPG"))
        movi_start = ref.index(b"movi") - 8
        movi = _list(b"movi", _chunk(b"00dc", b"\xff\xd8\xff\xe0fakejpeg"))
        body = bytes(ref[8:movi_start]) + movi
        b = b"RIFF" + struct.pack("<I", len(body)) + body
        # no PIL (this container): NotImplementedError seam. With PIL
        # installed the seam opens, and a malformed bitstream must come
        # back as the decoder's own ValueError, not a raw PIL error.
        try:
            import PIL  # noqa: F401
            expected: type = ValueError
        except ImportError:
            expected = NotImplementedError
        with pytest.raises(expected, match="JPEG"):
            decode_avi(b)

    def test_unrecognized_mjpg_payload_raises(self):
        from eo_tools_spark.functions.media import _chunk, _list

        f = np.zeros((1, 4, 4, 3), dtype=np.uint8)
        ref = bytearray(encode_avi(f, codec="MJPG"))
        movi_start = ref.index(b"movi") - 8
        movi = _list(b"movi", _chunk(b"00dc", b"\x00\x01\x02"))  # wrong size
        body = bytes(ref[8:movi_start]) + movi
        b = b"RIFF" + struct.pack("<I", len(body)) + body
        with pytest.raises(ValueError, match="unrecognized MJPG"):
            decode_avi(b)

    def test_unknown_codec_param_raises(self):
        with pytest.raises(ValueError, match="codec"):
            encode_avi(np.zeros((1, 2, 2, 3), dtype=np.uint8), codec="H264")

    def test_garbage_raises(self):
        with pytest.raises(ValueError):
            decode_avi(b"RIFFxxxxWAVE")

class TestMp4:
    """ISO BMFF / MP4 (round-6 codec breadth): box tree + full sample
    table reconstruction (stsc runs, stco/co64, per-sample stsz), with
    JPEG-family sample decode and honest bitstream-codec seams."""

    def test_roundtrip_is_qjpg_quantization(self):
        from eo_tools_spark.functions.imaging import qjpg_decode, qjpg_encode
        from eo_tools_spark.functions.media import decode_mp4, encode_mp4

        rng = np.random.default_rng(11)
        for (n, h, w, spc) in [(1, 5, 7, 1), (4, 12, 15, 2), (7, 16, 18, 3),
                               (5, 9, 11, 99)]:
            f = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
            g = decode_mp4(encode_mp4(f, fps=10, samples_per_chunk=spc))
            truth = np.stack([qjpg_decode(qjpg_encode(fr), w, h, 3) for fr in f])
            assert np.array_equal(g, truth), (n, h, w, spc)

    def test_stsc_run_length_entries(self):
        """Sample→chunk runs compress correctly: 7 samples, 3/chunk →
        chunks of 3,3,1 → exactly two stsc entries (1,3) and (3,1)."""
        from eo_tools_spark.functions.media import encode_mp4

        f = np.zeros((7, 4, 4, 3), dtype=np.uint8)
        b = encode_mp4(f, samples_per_chunk=3)
        i = b.index(b"stsc") + 4
        n_ent = int.from_bytes(b[i + 4:i + 8], "big")
        assert n_ent == 2
        e1 = struct.unpack(">III", b[i + 8:i + 20])
        e2 = struct.unpack(">III", b[i + 20:i + 32])
        assert e1 == (1, 3, 1) and e2 == (3, 1, 1)

    def test_meta_without_decode(self):
        from eo_tools_spark.functions.media import _parse_mp4, encode_mp4

        f = np.zeros((6, 8, 10, 3), dtype=np.uint8)
        m = _parse_mp4(encode_mp4(f, fps=25))
        assert {k: m[k] for k in ("codec", "width", "height", "n_samples",
                                  "timescale", "duration")} == {
            "codec": "jpeg", "width": 10, "height": 8,
            "n_samples": 6, "timescale": 25, "duration": 6}

    def test_co64_offsets_supported(self):
        """Rewrite stco → co64 (64-bit chunk offsets, the >4 GiB file
        form) and require an identical decode."""
        from eo_tools_spark.functions.media import decode_mp4, encode_mp4

        f = np.arange(2 * 4 * 5 * 3, dtype=np.uint8).reshape(2, 4, 5, 3)
        b = bytearray(encode_mp4(f, samples_per_chunk=1))
        i = b.index(b"stco") - 4
        (size,) = struct.unpack(">I", b[i:i + 4])
        body = bytes(b[i + 8:i + size])          # version/flags + table
        n_ch = int.from_bytes(body[4:8], "big")
        offs = struct.unpack(f">{n_ch}I", body[8:8 + 4 * n_ch])
        co64 = (struct.pack(">I", 16 + 8 * n_ch) + b"co64" + body[:4]
                + struct.pack(">I", n_ch) + struct.pack(f">{n_ch}Q", *offs))
        # co64 is 4*n_ch bytes LARGER than stco — splice and grow every
        # enclosing box (moov/trak/mdia/minf/stbl) by the delta. mdat
        # offsets are unaffected (moov sits after mdat in this layout).
        delta = len(co64) - size
        out = bytes(b[:i]) + co64 + bytes(b[i + size:])
        grown = bytearray(out)
        for four in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
            j = grown.index(four) - 4
            (s,) = struct.unpack(">I", grown[j:j + 4])
            grown[j:j + 4] = struct.pack(">I", s + delta)
        g = decode_mp4(bytes(grown))
        h = decode_mp4(bytes(b))
        assert np.array_equal(g, h)

    def test_bitstream_codec_raises_with_metadata(self):
        """avc1 (H.264) sample entries parse but decode honestly
        raises — the message carries the parsed geometry."""
        from eo_tools_spark.functions.media import _parse_mp4, decode_mp4, encode_mp4

        f = np.zeros((3, 6, 4, 3), dtype=np.uint8)
        b = bytearray(encode_mp4(f))
        i = b.index(b"stsd") + 4
        j = bytes(b).index(b"jpeg", i)
        b[j:j + 4] = b"avc1"
        m = _parse_mp4(bytes(b))
        assert m["codec"] == "avc1" and (m["width"], m["height"]) == (4, 6)
        with pytest.raises(NotImplementedError, match="avc1.*4x6, 3 samples"):
            decode_mp4(bytes(b))

    def test_unrecognized_codec_raises(self):
        from eo_tools_spark.functions.media import decode_mp4, encode_mp4

        f = np.zeros((1, 2, 2, 3), dtype=np.uint8)
        b = bytearray(encode_mp4(f))
        j = bytes(b).index(b"jpeg", b.index(b"stsd"))
        b[j:j + 4] = b"zzzz"
        with pytest.raises(ValueError, match="zzzz"):
            decode_mp4(bytes(b))

    def test_garbage_and_missing_boxes_raise(self):
        from eo_tools_spark.functions.media import decode_mp4, encode_mp4

        with pytest.raises(ValueError, match="ISO BMFF"):
            decode_mp4(b"\x00" * 64)
        # ftyp present but no moov
        b = encode_mp4(np.zeros((1, 2, 2, 3), dtype=np.uint8))
        i = b.index(b"mdat") - 4
        with pytest.raises(ValueError, match="moov"):
            decode_mp4(b[:i])

    def test_truncated_streams_raise_valueerror_not_struct_error(self):
        """Every fixed-offset unpack inside the parser must surface as
        the documented ValueError — including truncation inside a
        largesize header and mid-sample-table cuts."""
        from eo_tools_spark.functions.media import _parse_mp4, decode_mp4, encode_mp4

        # truncated inside a 64-bit largesize header
        with pytest.raises(ValueError):
            decode_mp4(b"\x00\x00\x00\x01ftypAB")
        # every prefix of a valid file raises ValueError (never
        # struct.error) or — once moov is complete — decodes
        full = encode_mp4(np.zeros((3, 4, 4, 3), dtype=np.uint8))
        for cut in range(0, len(full), 7):
            try:
                _parse_mp4(full[:cut])
            except ValueError:
                pass

    def test_sample_payloads_are_top_down_rgb(self):
        """Pin the byte layout: first mdat payload byte is the top-left
        pixel's R plane under the 6-bit qjpg law."""
        from eo_tools_spark.functions.media import encode_mp4

        f = np.zeros((1, 2, 1, 3), dtype=np.uint8)
        f[0, 0, 0] = (200, 100, 40)
        b = encode_mp4(f)
        i = b.index(b"mdat") + 4
        assert b[i:i + 3] == bytes([200 >> 2, 100 >> 2, 40 >> 2])

    def test_encoder_contracts(self):
        from eo_tools_spark.functions.media import encode_mp4

        with pytest.raises(ValueError, match="codec"):
            encode_mp4(np.zeros((1, 2, 2, 3), dtype=np.uint8), codec="avc1")
        with pytest.raises(ValueError, match="samples_per_chunk"):
            encode_mp4(np.zeros((1, 2, 2, 3), dtype=np.uint8), samples_per_chunk=0)
        with pytest.raises(ValueError, match="frames"):
            encode_mp4(np.zeros((2, 2, 3), dtype=np.uint8))

class TestMp4Audio:
    """PCM16 audio tracks in ISO BMFF (round-6): 'sowt'/'twos' raw PCM
    via the same box walker, uniform-stsz sample table."""

    def test_roundtrip_exact(self):
        from eo_tools_spark.functions.media import (
            decode_mp4_audio,
            encode_mp4_audio,
        )

        rng = np.random.default_rng(13)
        for n, fpc in [(1, 1), (800, 4096), (12000, 4096), (5000, 999)]:
            s = rng.integers(-32768, 32767, n).astype(np.int16)
            rate, t = decode_mp4_audio(encode_mp4_audio(s, 22050, fpc))
            assert rate == 22050 and np.array_equal(s, t), (n, fpc)

    def test_uniform_stsz_layout(self):
        """PCM uses the uniform sample-size form (sample_size=2, no
        per-sample table) — pin the bytes."""
        from eo_tools_spark.functions.media import encode_mp4_audio

        b = encode_mp4_audio(np.zeros(100, dtype=np.int16), 8000)
        i = b.index(b"stsz") + 4
        fixed, n = struct.unpack(">II", b[i + 4:i + 12])
        assert fixed == 2 and n == 100

    def test_big_endian_twos_supported(self):
        from eo_tools_spark.functions.media import (
            decode_mp4_audio,
            encode_mp4_audio,
        )

        rng = np.random.default_rng(3)
        s = rng.integers(-32768, 32767, 500).astype(np.int16)
        b = bytearray(encode_mp4_audio(s, 16000))
        i = b.index(b"mdat") + 4
        b[i:i + 1000] = (
            np.frombuffer(bytes(b[i:i + 1000]), dtype="<i2")
            .byteswap().tobytes()
        )
        j = bytes(b).index(b"sowt", bytes(b).index(b"stsd"))
        b[j:j + 4] = b"twos"
        rate, t = decode_mp4_audio(bytes(b))
        assert rate == 16000 and np.array_equal(s, t)

    def test_track_routing(self):
        """A video-only file has no audio track and vice versa."""
        from eo_tools_spark.functions.media import (
            decode_mp4,
            decode_mp4_audio,
            encode_mp4,
            encode_mp4_audio,
        )

        vb = encode_mp4(np.zeros((2, 4, 4, 3), dtype=np.uint8))
        ab = encode_mp4_audio(np.zeros(64, dtype=np.int16), 8000)
        with pytest.raises(ValueError, match="no audio track"):
            decode_mp4_audio(vb)
        with pytest.raises(ValueError, match="no video track"):
            decode_mp4(ab)

    def test_aac_raises_with_metadata(self):
        from eo_tools_spark.functions.media import (
            decode_mp4_audio,
            encode_mp4_audio,
        )

        b = bytearray(encode_mp4_audio(np.zeros(64, dtype=np.int16), 8000))
        j = bytes(b).index(b"sowt", bytes(b).index(b"stsd"))
        b[j:j + 4] = b"mp4a"
        with pytest.raises(NotImplementedError, match="1ch 16bit 8000Hz"):
            decode_mp4_audio(bytes(b))

    def test_stereo_rejected(self):
        from eo_tools_spark.functions.media import (
            decode_mp4_audio,
            encode_mp4_audio,
        )

        b = bytearray(encode_mp4_audio(np.zeros(64, dtype=np.int16), 8000))
        # channelcount lives at sample-entry body+16 (entry_off+24)
        j = bytes(b).index(b"sowt", bytes(b).index(b"stsd")) - 4
        b[j + 24:j + 26] = struct.pack(">H", 2)
        with pytest.raises(ValueError, match="mono 16 only"):
            decode_mp4_audio(bytes(b))

    def test_encoder_contracts(self):
        from eo_tools_spark.functions.media import encode_mp4_audio

        with pytest.raises(ValueError, match="1-D"):
            encode_mp4_audio(np.zeros((2, 2), dtype=np.int16), 8000)
        with pytest.raises(ValueError, match="frames_per_chunk"):
            encode_mp4_audio(np.zeros(4, dtype=np.int16), 8000,
                             frames_per_chunk=0)
