"""Magic-number validators + real-byte compression checks (§2.7-2.8).

Specimen bytes mirror the reference's ok/error fixture tree
(/root/reference/tests/magic numbers/, tests/compression/): one valid and
one corrupted specimen per format family, planted as rows of a binary
content column."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datachecker_spark.constraints.magic import (
    COMPLEX_MAGIC,
    SIMPLE_MAGIC,
    check_compression,
    check_magic,
    format_valid_expr,
    infer_type_expr,
)


def _df(spark, rows):
    """rows: (ref, ext, content bytes)."""
    return spark.createDataFrame(
        [(r, e, bytearray(c)) for r, e, c in rows],
        "media_ref string, ext string, content binary",
    )


# valid specimens per complex format (offsets padded with 0x00)
def _pad(pieces: list[tuple[int, bytes]], size: int | None = None) -> bytes:
    end = max(off + len(b) for off, b in pieces)
    buf = bytearray(size or end)
    for off, b in pieces:
        buf[off : off + len(b)] = b
    return bytes(buf)


VALID = {
    ".avi": _pad([(0, b"RIFF"), (8, b"AVI ")]),
    ".wav": _pad([(0, b"RIFF"), (8, b"WAVE")]),
    ".webp": _pad([(0, b"RIFF"), (8, b"WEBP")]),
    ".mp4": _pad([(0, b"\x00\x00\x00\x18"), (4, b"ftypisom")]),
    ".mov": _pad([(0, b"\x00\x00\x00\x14"), (4, b"ftypqt  ")]),
    ".avif": _pad([(0, b"\x00\x00\x00\x1c"), (4, b"ftypavif")]),
    ".iso": _pad([(32769, b"CD001")]),
    ".tar": _pad([(257, b"ustar\x00")]),
    ".eot": _pad([(34, b"LP")]),
    ".gif": b"GIF89a" + b"\x00" * 4,
    ".tiff": b"II\x2a\x00" + b"\x00" * 4,
    ".zip": b"PK\x03\x04" + b"\x00" * 12,
    ".docx": b"PK\x03\x04" + b"\x00" * 12,
    ".mp3": b"ID3" + b"\x00" * 5,
    ".html": b"<!DOCTYPE html>" + b"<body/>",
    ".png": SIMPLE_MAGIC[".png"] + b"\x00" * 8,
    ".pdf": b"%PDF-1.7\n",
    ".jpg": b"\xff\xd8\xff\xe0" + b"\x00" * 4,
    ".7z": SIMPLE_MAGIC[".7z"] + b"\x00" * 4,
}


def test_valid_specimens_pass(spark):
    rows = [(f"ok{e}", e, c) for e, c in VALID.items()]
    df = _df(spark, rows)
    got = check_magic(df).collect()
    assert got == [], [r["doc_id"] for r in got]


def test_corrupted_specimens_flagged(spark):
    # flip the first byte of every signature-bearing region
    rows = []
    for e, c in VALID.items():
        bad = bytearray(c)
        # corrupt both offset-0 and the deepest signature offset
        offs = {0}
        for clause in COMPLEX_MAGIC.get(e, []):
            offs.update(off for off, _ in clause)
        for off in offs:
            if off < len(bad):
                bad[off] ^= 0xFF
        rows.append((f"bad{e}", e, bytes(bad)))
    got = check_magic(_df(spark, rows)).collect()
    assert {r["doc_id"] for r in got} == {f"bad{e}" for e in VALID}


def test_unknown_extension_not_flagged(spark):
    df = _df(spark, [("x", ".xyz", b"\x00\x01\x02\x03")])
    assert check_magic(df).count() == 0


def test_gif87a_alternative(spark):
    df = _df(spark, [("g87", ".gif", b"GIF87a" + b"\x00" * 4)])
    assert check_magic(df).count() == 0


def test_type_inference(spark):
    rows = [
        ("png", "", SIMPLE_MAGIC[".png"] + b"\x00" * 8),
        ("pdf", "", b"%PDF-1.4"),
        ("tar", "", _pad([(257, b"ustar")])),
        ("zipf", "", b"PK\x03\x04" + b"\x00" * 8),
        ("none", "", b"\x01\x02\x03\x04\x05\x06\x07\x08"),
        # longest-prefix: MZ (exe/dll) vs nothing shorter shadowing it
        ("exe", "", b"MZ\x90\x00"),
    ]
    df = _df(spark, rows).select(
        "media_ref", infer_type_expr(F.col("content")).alias("fmt")
    )
    got = {r["media_ref"]: r["fmt"] for r in df.collect()}
    assert got["png"] == ".png"
    assert got["pdf"] == ".pdf"
    assert got["tar"] == ".tar"
    assert got["zipf"] == ".zip"
    assert got["none"] is None
    assert got["exe"] in (".dll", ".exe")  # identical signature (reference: MZ → .dll/exe)


# --- compression ------------------------------------------------------------


def _png_with_flg(flg: int) -> bytes:
    ihdr = b"\x00\x00\x00\x0dIHDR" + b"\x00" * 13 + b"\x00" * 4
    idat = b"\x00\x00\x20\x00IDAT" + bytes([0x78, flg]) + b"\x00" * 8
    return SIMPLE_MAGIC[".png"] + ihdr + idat


def test_compression_rules(spark):
    rows = [
        ("bz9", ".bz2", b"BZh9" + b"\x00" * 8),          # max level → pass
        ("bz5", ".bz2", b"BZh5" + b"\x00" * 8),          # → warn
        ("gz2", ".gz", b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x02\xff"),  # XFL=2 pass
        ("gz0", ".gz", b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"),  # → warn
        ("zipok", ".zip", _pad([(0, b"PK\x03\x04"), (8, b"\x08\x00")], 16)),  # deflate
        ("zipstore", ".zip", _pad([(0, b"PK\x03\x04")], 16)),                # stored=0 ok
        ("zipsub", ".zip", _pad([(0, b"PK\x03\x04"), (8, b"\x05\x00")], 16)),  # 1-7 warn
        ("zipx", ".zip", _pad([(0, b"PK\x03\x04"), (8, b"\x63\x00")], 16)),  # >8 check
        ("pngmax", ".png", _png_with_flg(0xDA)),          # FLEVEL=3 → pass
        ("pnglow", ".png", _png_with_flg(0x9C)),          # FLEVEL=2 → warn
        ("pngbad", ".png", b"NOTPNG" + b"\x00" * 10),     # magic missing → error
        ("txt", ".txt", b"hello"),                        # not dispatched
    ]
    got = {r["doc_id"]: r for r in check_compression(_df(spark, rows)).collect()}
    assert set(got) == {"bz5", "gz0", "zipsub", "zipx", "pnglow", "pngbad"}
    assert got["bz5"]["severity"] == "WARNING"
    assert got["gz0"]["severity"] == "WARNING"
    assert got["zipsub"]["severity"] == "WARNING"
    assert got["zipx"]["severity"] == "CHECK"
    assert got["pnglow"]["severity"] == "WARNING"
    assert got["pngbad"]["severity"] == "ERROR"


def test_png_idat_beyond_window(spark):
    # IDAT starting past byte 122 of the post-magic window → ERROR
    blob = SIMPLE_MAGIC[".png"] + b"\x00" * 123 + b"IDAT\x78\xda"
    got = check_compression(_df(spark, [("late", ".png", blob)])).collect()
    assert len(got) == 1 and got[0]["severity"] == "ERROR"


def _real_format_blobs(spark, n: int = 120, *, seed: int = 43, corrupt_rate: float = 0.1):
    """Media table carrying REAL format headers (+ ext column) for the
    §2.7/§2.8 checks — one specimen per rotation of the complex-magic
    format set, corrupt_rate rows get the signature byte flipped. Columns:
    (media_ref, ext, content binary)."""
    import random

    def specimen(ext: str) -> bytes:
        clauses = COMPLEX_MAGIC.get(ext)
        if clauses is None:
            return SIMPLE_MAGIC[ext] + b"\x00" * 8
        clause = clauses[0]
        end = max(off + len(b) for off, b in clause)
        buf = bytearray(end + 8)
        for off, b in clause:
            buf[off : off + len(b)] = b
        return bytes(buf)

    exts = [".png", ".pdf", ".jpg", ".gif", ".zip", ".mp4", ".tar", ".mp3",
            ".avi", ".wav", ".tiff", ".html"]
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ext = exts[i % len(exts)]
        content = bytearray(specimen(ext))
        if rng.random() < corrupt_rate:
            # flip the deepest signature byte so every alternative fails
            off = max(
                (off for clause in COMPLEX_MAGIC.get(ext, [[(0, b"x")]]) for off, _ in clause),
                default=0,
            )
            content[off] ^= 0xEE
        rows.append((f"r{i}", ext, content))
    return spark.createDataFrame(
        rows, "media_ref string, ext string, content binary"
    )


def test_real_format_blob_generator_roundtrip(spark):
    media = _real_format_blobs(spark, n=120, corrupt_rate=0.1)
    flagged = {r["doc_id"] for r in check_magic(media).collect()}
    # every flagged ref is genuinely corrupted and every corrupted ref is
    # flagged: re-derive the corrupted set from the same seeded generator
    import random

    rng = random.Random(43)
    expect = set()
    for i in range(120):
        if rng.random() < 0.1:
            expect.add(f"r{i}")
    assert flagged == expect and len(expect) > 0


def test_format_valid_tri_state(spark):
    df = _df(
        spark,
        [("a", ".png", SIMPLE_MAGIC[".png"]), ("b", ".png", b"nope"), ("c", ".xyz", b"x")],
    ).select("media_ref", format_valid_expr(F.lower("ext"), F.col("content")).alias("v"))
    got = {r["media_ref"]: r["v"] for r in df.collect()}
    assert got == {"a": True, "b": False, "c": None}


def test_truncated_compression_headers(spark):
    """Short payloads ERROR instead of silently passing (compressed.zig
    readExactChunk failure path, :55-57/:70-72)."""
    rows = [
        ("t1", ".bz2", bytes.fromhex("425a68")),          # 3 bytes < 4
        ("t2", ".gz", bytes.fromhex("1f8b0800")),         # 4 bytes < 9
        ("t3", ".zip", bytes.fromhex("504b0304")),        # 4 bytes < 9
        ("t4", ".bz2", b"BZh9"),                          # complete, max level
        ("t5", ".gz", bytes.fromhex("1f8b08000000000002ff")),  # complete, XFL=2
    ]
    df = spark.createDataFrame(
        [(r, e, bytearray(c)) for r, e, c in rows],
        "media_ref string, ext string, content binary",
    )
    from datachecker_spark.constraints.magic import check_compression

    got = {r["doc_id"]: (r["severity"], r["detail"]) for r in check_compression(df).collect()}
    assert got["t1"] == ("ERROR", "truncated bzip2 header")
    assert got["t2"] == ("ERROR", "truncated gzip header")
    assert got["t3"] == ("ERROR", "truncated zip header")
    assert "t4" not in got and "t5" not in got


def test_check_no_extension(spark):
    """checkNoExtension parity (magic_numbers.zig:259-273): CHECK when magic
    identifies the content, WARNING otherwise; dotfiles count as
    extensionless; refs with extensions are not flagged."""
    png = bytes.fromhex("89504e470d0a1a0a") + b"\x00\x00\x00\x0dIHDR"
    rows = [
        ("m/blob1", png),              # no ext, png magic -> CHECK
        ("m/blob2", b"XXXXXXXX"),      # no ext, unknown -> WARNING
        ("m/.hidden", png),            # dotfile = extensionless -> CHECK
        ("m/file.bin", b"XXXXXXXX"),   # has extension -> not flagged
    ]
    df = spark.createDataFrame(
        [(r, bytearray(c)) for r, c in rows], "media_ref string, content binary"
    )
    from datachecker_spark.constraints.magic import check_no_extension

    got = {r["doc_id"]: (r["severity"], r["detail"]) for r in check_no_extension(df).collect()}
    assert got["m/blob1"] == ("CHECK", "no extension, content infers as .png")
    assert got["m/blob2"] == ("WARNING", "no extension, unknown content type")
    assert got["m/.hidden"][0] == "CHECK"
    assert "m/file.bin" not in got
