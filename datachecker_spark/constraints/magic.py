"""Magic-number / content-format validation over binary payloads (§2.7-2.8).

Re-expresses the reference's three checkers as whole-stage-codegen binary
expressions over the `content: binary` column of a media table:

* simple prefix map — 31 extensions → exact byte prefix at offset 0
  (/root/reference/src/modules/magic_numbers.zig:14-46);
* complex validators — AND/OR multi-signature checks at byte offsets
  (magic_numbers.zig:80-174): RIFF containers (avi/wav/webp), ftyp
  containers (mp4/mov/avif), tar@+257, iso@+32769, eot@+34, the zip family
  (zip/jar/docx/xlsx/pptx), GIF87a/89a, TIFF LE/BE, 4 MP3 variants, 3 HTML
  variants;
* type inference for extensionless content — longest-prefix probe of the
  reversed signature map, then the complex validators
  (magic_numbers.zig:276-323);
* compression-quality rules over real payload bytes
  (/root/reference/src/modules/compressed.zig:43-128): BZ2 level byte,
  GZ XFL byte, ZIP method byte, and the PNG zlib FLEVEL bit test on the
  first IDAT chunk.

All byte signatures are public file-format constants. Every rule is a
`substring(binary)` comparison — no Python in the data path; the one
bounded scan (PNG IDAT search over a 125-position window) is a small
higher-order filter over the fixed-size header, negligible next to reading
the blob. At scale the media table is partition-pruned and column-pruned to
(ref, ext, first ~33 KB of content) — offsets beyond the head (iso@32769)
read from the same first block the blob store returns anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachecker_spark.contract import SEV_CHECK, SEV_ERROR, SEV_WARNING, VIOLATION_COLS

CHECK_MAGIC = "magic_mismatch"
CHECK_COMPRESSION = "compression_quality"

# --- signature tables (public file-format magic; layout mirrors the
# reference maps magic_numbers.zig:14-46 so parity is line-checkable) -------

SIMPLE_MAGIC: dict[str, bytes] = {
    ".7z": b"\x37\x7a\xbc\xaf\x27\x1c",
    ".bmp": b"BM",
    ".bz2": b"BZh",
    ".cab": b"MSCF",
    ".class": b"\xca\xfe\xba\xbe",
    ".chm": b"ITSF\x03\x00\x00\x00",
    ".db": b"SQLite format 3\x00",
    ".dll": b"MZ",
    ".doc": b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",
    ".elf": b"\x7fELF",
    ".exe": b"MZ",
    ".flac": b"fLaC\x00\x00\x00\x22",
    ".gz": b"\x1f\x8b",
    ".ico": b"\x00\x00\x01\x00",
    ".jpg": b"\xff\xd8\xff",
    ".lnk": b"\x4c\x00\x00\x00",
    ".ogg": b"OggS",
    ".pdf": b"%PDF",
    ".png": b"\x89PNG\r\n\x1a\n",
    ".ppt": b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",
    ".ps": b"%!PS",
    ".psd": b"8BPS",
    ".rar": b"Rar!\x1a\x07\x01\x00",
    ".rtf": b"{\\rtf1",
    ".svg": b"<svg",
    ".ttf": b"\x00\x01\x00\x00",
    ".utf8bom": b"\xef\xbb\xbf",
    ".utf16bebom": b"\xfe\xff",
    ".utf16lebom": b"\xff\xfe",
    ".xml": b"<?xml",
    ".woff": b"wOFF",
}

# ext → OR-list of AND-lists of (absolute byte offset, expected bytes);
# absolute = reference's read offset + signature-relative offset
# (magic_numbers.zig:106-202)
_ZIP = [[(0, b"PK\x03\x04")], [(0, b"PK\x05\x06")]]
COMPLEX_MAGIC: dict[str, list[list[tuple[int, bytes]]]] = {
    ".avi": [[(0, b"RIFF"), (8, b"AVI ")]],
    ".wav": [[(0, b"RIFF"), (8, b"WAVE")]],
    ".webp": [[(0, b"RIFF"), (8, b"WEBP")]],
    ".mp4": [[(0, b"\x00\x00\x00"), (4, b"ftyp")]],
    ".mov": [[(0, b"\x00\x00\x00"), (4, b"ftypqt  ")]],
    ".avif": [[(4, b"ftypavif")]],
    ".iso": [[(32769, b"CD001")]],
    ".tar": [[(257, b"ustar")]],
    ".eot": [[(34, b"LP")]],
    ".gif": [[(0, b"GIF87a")], [(0, b"GIF89a")]],
    ".tiff": [[(0, b"II\x2a\x00")], [(0, b"MM\x00\x2a")]],
    ".zip": _ZIP,
    ".jar": _ZIP,
    ".docx": _ZIP,
    ".xlsx": _ZIP,
    ".pptx": _ZIP,
    ".mp3": [[(0, b"\xff\xf3")], [(0, b"\xff\xfb")], [(0, b"\xff\xf2")], [(0, b"ID3")]],
    ".htm": [[(0, b"<html>")], [(0, b"<HTML>")], [(0, b"<!DOCTYPE html>")]],
    ".html": [[(0, b"<html>")], [(0, b"<HTML>")], [(0, b"<!DOCTYPE html>")]],
}


def _bytes_at(content: Column, offset0: int, expected: bytes) -> Column:
    """content[offset0 : offset0+len] == expected (0-based offset)."""
    return F.substring(content, offset0 + 1, len(expected)) == F.lit(
        bytearray(expected)
    )


def _byte_val(content: Column, offset0) -> Column:
    """Unsigned value of the byte at 0-based offset — int or Column —
    (NULL past the end)."""
    off = F.lit(offset0) if isinstance(offset0, int) else offset0
    b = F.substring(content, off + 1, 1)
    return F.when(F.length(b) == 1, F.conv(F.hex(b), 16, 10).cast("int"))


def format_valid_expr(ext: Column, content: Column) -> Column:
    """TRUE iff content matches the signature for `ext` (lowercase, with
    dot); NULL when the extension has no signature — the tri-state lets the
    caller distinguish 'mismatch' from 'unknown format'."""
    expr = F.lit(None).cast("boolean")
    for e, clauses in COMPLEX_MAGIC.items():
        ok = F.lit(False)
        for clause in clauses:
            term = F.lit(True)
            for off, b in clause:
                term = term & _bytes_at(content, off, b)
            ok = ok | term
        expr = F.when(ext == e, ok).otherwise(expr)
    for e, prefix in SIMPLE_MAGIC.items():
        if e in COMPLEX_MAGIC:
            continue
        expr = F.when(ext == e, _bytes_at(content, 0, prefix)).otherwise(expr)
    return expr


def infer_type_expr(content: Column) -> Column:
    """Best-effort format inference for extensionless content: longest
    simple prefix wins, then the offset/AND-OR validators
    (magic_numbers.zig:276-323 probes prefixes of length 2..16 against the
    reversed map, then the complex checkers). Returns the extension string
    or NULL."""
    # longest-prefix-first when-chain == the reference's descending probe
    expr = F.lit(None).cast("string")
    by_len = sorted(SIMPLE_MAGIC.items(), key=lambda kv: len(kv[1]))
    for e, prefix in by_len:  # shortest first → longest ends up outermost
        expr = F.when(_bytes_at(content, 0, prefix), F.lit(e)).otherwise(expr)
    # complex validators break remaining ties (distinct offsets, no overlap
    # with the simple prefixes except the zip family container formats)
    for e in (".avi", ".wav", ".webp", ".mp4", ".avif", ".iso", ".tar",
              ".gif", ".tiff", ".zip", ".mp3", ".html"):
        clauses = COMPLEX_MAGIC[e]
        ok = F.lit(False)
        for clause in clauses:
            term = F.lit(True)
            for off, b in clause:
                term = term & _bytes_at(content, off, b)
            ok = ok | term
        expr = F.coalesce(expr, F.when(ok, F.lit(e)))
    return expr


def check_magic(
    df: DataFrame,
    *,
    id_col: str = "media_ref",
    ext_col: str = "ext",
    content_col: str = "content",
    part: str = "__media__",
) -> DataFrame:
    """ERROR per row whose declared extension has a known signature the
    content does not match (reference check: magic_numbers.zig:210-252)."""
    valid = format_valid_expr(F.lower(F.col(ext_col)), F.col(content_col))
    offenders = df.where(F.col(content_col).isNotNull() & (valid == False))  # noqa: E712
    return offenders.select(
        F.lit(CHECK_MAGIC).alias("check"),
        F.lit(SEV_ERROR).alias("severity"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.lit(part).alias("part"),
        F.format_string(
            "content does not match declared format %s", F.lower(F.col(ext_col))
        ).alias("detail"),
    ).select(*VIOLATION_COLS)


CHECK_NO_EXT = "no_extension"


def check_no_extension(
    df: DataFrame,
    *,
    id_col: str = "media_ref",
    content_col: str = "content",
    part: str = "__media__",
) -> DataFrame:
    """Rows whose ref has NO extension: CHECK when the content's magic bytes
    identify a format ("no extension, content infers as X"), else WARNING —
    the reference's checkNoExtension (magic_numbers.zig:259-273: findType hit
    → print.check with the type, miss → print.warning).

    Extension detection mirrors std.fs.path.extension: a leading dot alone
    (dotfiles like '.bashrc') is NOT an extension — the match requires at
    least one character before the final dot."""
    base = F.element_at(F.split(F.col(id_col), "/"), -1)
    has_ext = F.regexp_like(base, F.lit(r".\.[^.]+$"))
    inferred = infer_type_expr(F.col(content_col))
    flagged = df.where(~has_ext).withColumn("_inferred", inferred)
    return flagged.select(
        F.lit(CHECK_NO_EXT).alias("check"),
        F.when(F.col("_inferred").isNotNull(), F.lit(SEV_CHECK))
        .otherwise(F.lit(SEV_WARNING))
        .alias("severity"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.lit(part).alias("part"),
        F.when(
            F.col("_inferred").isNotNull(),
            F.format_string("no extension, content infers as %s", F.col("_inferred")),
        )
        .otherwise(F.lit("no extension, unknown content type"))
        .alias("detail"),
    ).select(*VIOLATION_COLS)


# --- compression-quality rules over real bytes (§2.8) -----------------------

# reference dispatch set, exact parity (compressed.zig:15-24): bz2, gz, png
# + the zip-container family the reference routes to checkZIP (docx, epub,
# pptx, xlsx, zip). No .jar — the reference does not check jars.
COMPRESSION_EXTS = (".bz2", ".gz", ".png", ".zip", ".docx", ".epub",
                    ".pptx", ".xlsx")


def compression_verdict_expr(ext: Column, content: Column) -> Column:
    """(severity, reason) struct or NULL, from real payload bytes:

    * .bz2 — 4th byte is the ASCII level digit; != '9' → not max
      (compressed.zig:43-57)
    * .gz  — byte 8 is XFL; != 2 → not max compression (:59-72)
    * zip family — byte 8 is the method byte: >8 special/enhanced → CHECK,
      1..7 suboptimal → WARNING (:107-128); 0 (stored) and 8 (deflate) pass
    * .png — must carry the PNG magic, then the zlib FLG byte 5 bytes after
      the first 'IDAT' within the 128-byte post-magic window must have
      FLEVEL bits 0xC0 (max compression) (:74-105); IDAT found past byte
      122 of the window → ERROR like the reference's read failure
    * payload shorter than the header a rule needs → ERROR, mirroring the
      reference's readExactChunk failure path (compressed.zig:55-57,70-72):
      without the explicit branch _byte_val returns NULL past end-of-content
      and a truncated file would silently pass
    """
    n = F.length(content)
    bz2_bad = _byte_val(content, 3) != F.lit(ord("9"))
    gz_bad = _byte_val(content, 8) != F.lit(2)
    zip_method = _byte_val(content, 8)
    png_magic_ok = _bytes_at(content, 0, SIMPLE_MAGIC[".png"])
    # positions are relative to the 128-byte window that starts after the
    # 8-byte magic (reference chunk2); valid FLG read needs pos+5 <= 127
    idat_positions = F.filter(
        F.sequence(F.lit(0), F.lit(124)),
        lambda p: F.substring(content, p + 9, 4) == F.lit(bytearray(b"IDAT")),
    )
    idat_pos = F.element_at(idat_positions, 1)
    png_flg = _byte_val(content, F.lit(8) + idat_pos + F.lit(5))
    zip_like = ext.isin([e for e in COMPRESSION_EXTS if e not in (".bz2", ".gz", ".png")])

    sev, reason = "severity", "reason"

    def verdict(s: str, r: str) -> Column:
        return F.struct(F.lit(s).alias(sev), F.lit(r).alias(reason))

    return (
        F.when(
            ext == ".bz2",
            F.when(n < 4, verdict(SEV_ERROR, "truncated bzip2 header"))
            .when(bz2_bad, verdict(SEV_WARNING, "bzip2 level below 9")),
        )
        .when(
            ext == ".gz",
            F.when(n < 9, verdict(SEV_ERROR, "truncated gzip header"))
            .when(gz_bad, verdict(SEV_WARNING, "gzip XFL not max compression")),
        )
        .when(
            zip_like,
            F.when(n < 9, verdict(SEV_ERROR, "truncated zip header"))
            .when(zip_method > 8, verdict(SEV_CHECK, "zip method uncommon"))
            .when(zip_method.between(1, 7), verdict(SEV_WARNING, "zip method suboptimal")),
        )
        .when(
            ext == ".png",
            F.when(~png_magic_ok, verdict(SEV_ERROR, "png magic missing"))
            .when(idat_pos.isNull(), F.lit(None))
            .when(idat_pos > 122, verdict(SEV_ERROR, "IDAT beyond header window"))
            .when(
                png_flg.bitwiseAND(F.lit(0xC0)) != F.lit(0xC0),
                verdict(SEV_WARNING, "png zlib FLEVEL below max"),
            ),
        )
    )


def check_compression(
    df: DataFrame,
    *,
    id_col: str = "media_ref",
    ext_col: str = "ext",
    content_col: str = "content",
    part: str = "__media__",
) -> DataFrame:
    """Violations for compressed payloads with suboptimal/uncommon settings."""
    v = compression_verdict_expr(F.lower(F.col(ext_col)), F.col(content_col))
    offenders = df.withColumn("_v", v).where(
        F.col(content_col).isNotNull() & F.col("_v").isNotNull()
    )
    return offenders.select(
        F.lit(CHECK_COMPRESSION).alias("check"),
        F.col("_v")["severity"].alias("severity"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.lit(part).alias("part"),
        F.col("_v")["reason"].alias("detail"),
    ).select(*VIOLATION_COLS)
