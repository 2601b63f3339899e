#!/usr/bin/env python3
"""Differential mutant-parity oracles for the decompressors that have
stdlib reference implementations — the harness that caught the brotli
ISLAST-metadata bug (round 15), generalized:

  gzip  — python zlib/gzip vs graft.ops.Warc.gunzipMembers
  bzip2 — python bz2          vs graft.ops.Bzip2.decompress (commons-compress)
  xz    — python lzma         vs graft.ops.Xz.decompress (our container
          walk over xz-java's LZMA2 decoder)

For every single-byte XOR mutant (x4 values) of a grid of reference-
encoded streams (levels x content shapes, incl. multi-member/stream
concatenation), record the reference verdict: decodes -> sha256 of
output, or refuses. The Scala side (graft.tools.CodecParity) regenerates
the same mutants from the same base streams and must agree on
accept/refuse AND bytes.

Reference semantics used (all reject trailing garbage, like our
readers): gzip via streaming zlib members (the gzip module tolerates
some trailing shapes the spec calls garbage); bz2 via bz2.BZ2Decompressor
chained across streams; lzma via lzma.LZMADecompressor(FORMAT_XZ)
chained, honoring 4-byte-aligned zero stream padding.

Outputs (tool-run artifacts, NOT committed):
  /tmp/codec_parity/<codec>_<i>.bin    base streams
  /tmp/codec_parity/<codec>.tsv        <i> <pos> <xor> <ok|fail> [<sha256>]

Run: python3 tools/codec_mutant_parity.py [gzip bzip2 xz]
then: sbt "runMain graft.tools.CodecParity /tmp/codec_parity <codec>"
"""
import bz2
import gzip
import hashlib
import io
import lzma
import os
import sys
import zlib

OUT = "/tmp/codec_parity"
XORS = [0x01, 0x10, 0x80, 0xFF]


def _incompressible(n):
    # deterministic xorshift32 — a periodic formula compresses away and
    # leaves the literal-heavy decoder paths under-covered
    x = 0x12345678
    out = bytearray()
    while len(out) < n:
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        out.append(x & 0xFF)
    return bytes(out)

PAYLOADS = [
    b"",
    b"hello gzip world " * 40,
    bytes(range(256)) * 8,
    b"a" * 4096,
    ("the quick brown fox jumps over the lazy dog. " * 60).encode(),
    _incompressible(4096),
]


def gzip_streams():
    out = []
    for i, p in enumerate(PAYLOADS):
        level = [1, 6, 9][i % 3]
        out.append(gzip.compress(p, compresslevel=level, mtime=0))
    # multi-member concatenation + FNAME header field
    out.append(gzip.compress(PAYLOADS[1], 6, mtime=0) +
               gzip.compress(PAYLOADS[3], 9, mtime=0))
    buf = io.BytesIO()
    with gzip.GzipFile(filename="shard.jsonl", mode="wb", fileobj=buf,
                       compresslevel=6, mtime=0) as f:
        f.write(PAYLOADS[4])
    out.append(buf.getvalue())
    return out


def gzip_verdict(data):
    # streaming member-by-member: exact trailing-garbage semantics
    # (gzip.decompress is lenient about some trailing shapes)
    try:
        h = hashlib.sha256()
        pos = 0
        n = len(data)
        if n == 0:
            return "fail", None
        while pos < n:
            d = zlib.decompressobj(wbits=31)
            h.update(d.decompress(data[pos:]))
            while not d.eof:
                if not d.unconsumed_tail:
                    return "fail", None  # truncated member
                h.update(d.decompress(d.unconsumed_tail))
            consumed = n - pos - len(d.unused_data)
            if consumed <= 0:
                return "fail", None
            pos += consumed
        return "ok", h.hexdigest()
    except Exception:
        return "fail", None


def bzip2_streams():
    out = []
    for i, p in enumerate(PAYLOADS):
        out.append(bz2.compress(p, compresslevel=[1, 5, 9][i % 3]))
    out.append(bz2.compress(PAYLOADS[1], 9) + bz2.compress(PAYLOADS[2], 1))
    return out


def bzip2_verdict(data):
    try:
        h = hashlib.sha256()
        pos = 0
        n = len(data)
        if n == 0:
            return "fail", None
        while pos < n:
            d = bz2.BZ2Decompressor()
            h.update(d.decompress(data[pos:]))
            if not d.eof:
                return "fail", None
            consumed = n - pos - len(d.unused_data)
            if consumed <= 0:
                return "fail", None
            pos += consumed
        return "ok", h.hexdigest()
    except Exception:
        return "fail", None


def xz_streams():
    out = []
    checks = [lzma.CHECK_CRC64, lzma.CHECK_CRC32, lzma.CHECK_NONE,
              lzma.CHECK_SHA256]
    for i, p in enumerate(PAYLOADS):
        out.append(lzma.compress(p, format=lzma.FORMAT_XZ,
                                 check=checks[i % 4], preset=[0, 6, 9][i % 3]))
    # multi-stream with 4-byte zero padding between streams (legal)
    out.append(lzma.compress(PAYLOADS[1], format=lzma.FORMAT_XZ) + b"\x00" * 4 +
               lzma.compress(PAYLOADS[3], format=lzma.FORMAT_XZ))
    return out


def xz_verdict(data):
    try:
        h = hashlib.sha256()
        pos = 0
        n = len(data)
        if n == 0:
            return "fail", None
        while pos < n:
            # stream padding: 4-byte units of zeros, between or after streams
            if data[pos] == 0:
                pad = 0
                while pos + pad < n and data[pos + pad] == 0:
                    pad += 1
                if pad % 4 != 0:
                    return "fail", None
                pos += pad
                continue
            d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            h.update(d.decompress(data[pos:]))
            if not d.eof:
                return "fail", None
            consumed = n - pos - len(d.unused_data)
            if consumed <= 0:
                return "fail", None
            pos += consumed
        return "ok", h.hexdigest()
    except Exception:
        return "fail", None


CODECS = {
    "gzip": (gzip_streams, gzip_verdict),
    "bzip2": (bzip2_streams, bzip2_verdict),
    "xz": (xz_streams, xz_verdict),
}


def main():
    names = sys.argv[1:] or list(CODECS)
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        gen, verdict = CODECS[name]
        streams = gen()
        rows = []
        n_ok = n_fail = 0
        for i, base in enumerate(streams):
            with open(os.path.join(OUT, f"{name}_{i}.bin"), "wb") as f:
                f.write(base)
            v, _ = verdict(base)
            assert v == "ok", (name, i)
            for pos in range(len(base)):
                for x in XORS:
                    m = bytearray(base)
                    m[pos] ^= x
                    v, hh = verdict(bytes(m))
                    if v == "ok":
                        n_ok += 1
                        rows.append(f"{i}\t{pos}\t{x}\tok\t{hh}")
                    else:
                        n_fail += 1
                        rows.append(f"{i}\t{pos}\t{x}\tfail\t")
        with open(os.path.join(OUT, f"{name}.tsv"), "w") as f:
            f.write("\n".join(rows) + "\n")
        print(f"{name}: {len(streams)} streams, {len(rows)} mutants "
              f"({n_ok} decode, {n_fail} refuse)")


if __name__ == "__main__":
    main()
