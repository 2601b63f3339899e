#!/usr/bin/env python3
"""Differential mutant-parity oracle for the 7z container reader/writer
against an independent from-the-spec python reference reader whose
payload codecs are real liblzma (raw LZMA1/LZMA2), zlib (raw deflate)
and bz2 — a different language AND different codec cores than the Scala
side (graft.ops.SevenZip's header walk over xz-java's LZMA decoders and
commons-compress bzip2).

Directions in one run:
  1. graft-written bases (solid LZMA1 archives from SevenZip.write) must
     be readable by this reference reader — writer conformance.
  2. python-written bases (liblzma LZMA2 solid, liblzma raw LZMA1,
     copy/deflate/bzip2 per-file folders, kEncodedHeader, empty files +
     directory entries — the make_7z_fixture builders) exercise the
     Scala reader on foreign encoder output under mutation.
  3. For every single-byte XOR mutant (x4 values) of every base, this
     reader records a verdict: all members readable with every CRC
     verified -> canonical sha256 over sorted (name, member-sha), else
     refuse. The Scala side (graft.tools.SevenZipParity) replays the
     same mutants and must agree, with ONE policy class:
       - policy_codec_slack: mutants INSIDE the pack-stream region where
         the two LZMA cores disagree on accept (range-coder slack bits /
         consumption strictness). Both sides verify substream CRCs on
         accept, so the class is strictness-only — never wrong bytes.

Run:
  sbt "runMain graft.tools.SevenZipParity --dump /tmp/sz_parity"
  python3 tools/sevenzip_mutant_parity.py
  sbt "runMain graft.tools.SevenZipParity /tmp/sz_parity"

Outputs (tool-run artifacts, NOT committed):
  /tmp/sz_parity/sz_<i>.bin   bases (0..5 Scala dump, 6.. python-built)
  /tmp/sz_parity/7z.tsv       <i> <pos> <xor> <ok|fail> [<canon-sha>]
"""
import bz2
import glob
import hashlib
import lzma
import os
import struct
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import make_7z_fixture as mk  # the container builders (liblzma payloads)

OUT = "/tmp/sz_parity"
XORS = [0x01, 0x10, 0x80, 0xFF]


class Bad(Exception):
    pass


class Rd:
    """bounds-checked cursor with the 7z primitives (REAL_UINT64, bits)."""

    def __init__(self, buf, off, end):
        self.b, self.off, self.end = buf, off, end

    def u8(self):
        if self.off >= self.end:
            raise Bad("eof")
        v = self.b[self.off]
        self.off += 1
        return v

    def num(self):
        first = self.u8()
        mask, value = 0x80, 0
        for i in range(8):
            if not first & mask:
                return value | (first & (mask - 1)) << (8 * i)
            value |= self.u8() << (8 * i)
            mask >>= 1
        return value

    def take(self, n):
        if n < 0 or self.off + n > self.end:
            raise Bad("eof")
        out = self.b[self.off:self.off + n]
        self.off += n
        return out

    def bits(self, n):
        out, acc, mask = [], 0, 0
        for _ in range(n):
            if mask == 0:
                acc, mask = self.u8(), 0x80
            out.append(bool(acc & mask))
            mask >>= 1
        return out

    def defined_bits(self, n):
        return [True] * n if self.u8() else self.bits(n)

    def digests(self, n):
        defined = self.defined_bits(n)
        return [struct.unpack("<I", self.take(4))[0] if d else None
                for d in defined]


def parse_folder(rd):
    ncoders = rd.num()
    if ncoders == 0 or ncoders > 64:
        raise Bad("coders")
    coders = []
    for _ in range(ncoders):
        flags = rd.u8()
        if flags & 0xC0:
            raise Bad("alt methods")
        ident = rd.take(flags & 0x0F)
        nin, nout = (rd.num(), rd.num()) if flags & 0x10 else (1, 1)
        props = rd.take(rd.num()) if flags & 0x20 else b""
        coders.append((ident, nin, nout, props))
    tin = sum(c[1] for c in coders)
    tout = sum(c[2] for c in coders)
    nbind = tout - 1
    if nbind < 0 or nbind > tin:
        raise Bad("bind pairs")
    pairs = [(rd.num(), rd.num()) for _ in range(nbind)]
    npacked = tin - nbind
    if npacked > 1:
        packed = [rd.num() for _ in range(npacked)]
    else:
        bound = {p[0] for p in pairs}
        packed = [next(i for i in range(tin) if i not in bound)]
    return {"coders": coders, "pairs": pairs, "packed": packed, "sizes": []}


def folder_unpack_size(f):
    bound = {p[1] for p in f["pairs"]}
    tout = sum(c[2] for c in f["coders"])
    main = next(i for i in range(tout) if i not in bound)
    return f["sizes"][main]


def parse_streams_info(rd):
    si = {"pack_pos": 0, "pack_sizes": [], "folders": [],
          "folder_crcs": [], "nums": None, "sub_sizes": [], "sub_crcs": []}
    t = rd.num()
    while t != 0x00:
        if t == 0x06:  # PackInfo
            si["pack_pos"] = rd.num()
            n = rd.num()
            if n > 1 << 20:
                raise Bad("npack")
            t2 = rd.num()
            while t2 != 0x00:
                if t2 == 0x09:
                    si["pack_sizes"] = [rd.num() for _ in range(n)]
                elif t2 == 0x0A:
                    rd.digests(n)
                else:
                    raise Bad("packinfo prop")
                t2 = rd.num()
            if len(si["pack_sizes"]) != n:
                raise Bad("packinfo sizes")
        elif t == 0x07:  # UnpackInfo
            if rd.num() != 0x0B:
                raise Bad("no kFolder")
            n = rd.num()
            if n > 1 << 20:
                raise Bad("nfolders")
            if rd.u8():
                raise Bad("external folders")
            si["folders"] = [parse_folder(rd) for _ in range(n)]
            if rd.num() != 0x0C:
                raise Bad("no kCodersUnpackSize")
            for f in si["folders"]:
                tout = sum(c[2] for c in f["coders"])
                f["sizes"] = [rd.num() for _ in range(tout)]
            t2 = rd.num()
            while t2 != 0x00:
                if t2 == 0x0A:
                    si["folder_crcs"] = rd.digests(n)
                else:
                    raise Bad("unpackinfo prop")
                t2 = rd.num()
        elif t == 0x08:  # SubStreamsInfo
            nf = len(si["folders"])
            nums = [1] * nf
            t2 = rd.num()
            if t2 == 0x0D:
                nums = [rd.num() for _ in range(nf)]
                t2 = rd.num()
            sizes = []
            for fi, f in enumerate(si["folders"]):
                k = nums[fi]
                if k == 0:
                    continue
                tot = folder_unpack_size(f)
                acc = 0
                for _ in range(k - 1):
                    if t2 != 0x09:
                        raise Bad("multi substream without kSize")
                    s = rd.num()
                    sizes.append(s)
                    acc += s
                if tot - acc < 0:
                    raise Bad("substream overrun")
                sizes.append(tot - acc)
            if t2 == 0x09:
                t2 = rd.num()
            known = []
            for fi in range(nf):
                fc = (si["folder_crcs"][fi]
                      if fi < len(si["folder_crcs"]) else None)
                known.extend([fc if nums[fi] == 1 else None]
                             + [None] * (nums[fi] - 1))
            while t2 != 0x00:
                if t2 == 0x0A:
                    unknown = [i for i, c in enumerate(known) if c is None]
                    ds = rd.digests(len(unknown))
                    for i, d in zip(unknown, ds):
                        known[i] = d
                else:
                    raise Bad("substreams prop")
                t2 = rd.num()
            si["nums"], si["sub_sizes"], si["sub_crcs"] = nums, sizes, known
        else:
            raise Bad("streamsinfo prop")
        t = rd.num()
    if si["nums"] is None:
        si["nums"] = [1] * len(si["folders"])
        si["sub_sizes"] = [folder_unpack_size(f) for f in si["folders"]]
        si["sub_crcs"] = [si["folder_crcs"][i]
                          if i < len(si["folder_crcs"]) else None
                          for i in range(len(si["folders"]))]
    return si


def decode_folder(arch, si, fi):
    f = si["folders"][fi]
    for ident, _, _, _ in f["coders"]:
        if ident[:1] == b"\x06":
            raise Bad("encrypted")
    if len(f["coders"]) != 1 or f["coders"][0][1] != 1 or f["coders"][0][2] != 1:
        raise Bad("chain")
    ident, _, _, props = f["coders"][0]
    declared = folder_unpack_size(f)
    first = sum(sum(c[1] for c in g["coders"]) - len(g["pairs"])
                for g in si["folders"][:fi])
    if first >= len(si["pack_sizes"]):
        raise Bad("pack index")
    start = 32 + si["pack_pos"] + sum(si["pack_sizes"][:first])
    size = si["pack_sizes"][first]
    if start + size > len(arch):
        raise Bad("pack extent")
    data = arch[start:start + size]

    if ident == b"\x00":
        if props or len(data) != declared:
            raise Bad("copy")
        out = data
    elif ident == b"\x21":
        if len(props) != 1 or props[0] > 40:
            raise Bad("lzma2 props")
        p = props[0]
        dict_size = 0xFFFFFFFF if p == 40 else (2 | (p & 1)) << (p // 2 + 11)
        d = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA2, "dict_size": max(dict_size, 4096)}])
        out = d.decompress(data)
        if not d.eof or d.unused_data:
            raise Bad("lzma2 tail")
    elif ident == b"\x03\x01\x01":
        if len(props) != 5:
            raise Bad("lzma1 props")
        pb_ = props[0]
        if pb_ >= 9 * 5 * 5:
            raise Bad("lzma1 props byte")
        lc, lp, pb = pb_ % 9, (pb_ // 9) % 5, pb_ // 45
        dict_size = struct.unpack("<I", props[1:5])[0]
        d = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA1, "lc": lc, "lp": lp, "pb": pb,
             "dict_size": max(dict_size, 4096)}])
        # a marker-free size-declared stream MUST be externally bounded:
        # liblzma happily over-decodes range-coder slack past the real
        # data (the 7z reader's job is to stop at the declared size)
        out = d.decompress(data, max_length=declared)
        while (len(out) < declared and not d.eof
               and not d.needs_input):
            more = d.decompress(b"", max_length=declared - len(out))
            if not more:
                break
            out += more
    elif ident == b"\x04\x01\x08":
        o = zlib.decompressobj(-15)
        out = o.decompress(data) + o.flush()
    elif ident == b"\x04\x02\x02":
        out = bz2.decompress(data)
    else:
        raise Bad("coder")
    if len(out) != declared:
        raise Bad("folder size")
    return out


def parse_files_info(rd):
    nfiles = rd.num()
    if nfiles > 1 << 20:
        raise Bad("nfiles")
    empty_stream = [False] * nfiles
    empty_file = []
    names = []
    t = rd.num()
    while t != 0x00:
        size = rd.num()
        end_at = rd.off + size
        if end_at > rd.end:
            raise Bad("prop size")
        if t == 0x0E:
            empty_stream = rd.bits(nfiles)
        elif t == 0x0F:
            empty_file = rd.bits(sum(empty_stream))
        elif t == 0x10:
            if any(rd.bits(sum(empty_stream))):
                raise Bad("anti")
        elif t == 0x11:
            if rd.u8():
                raise Bad("external names")
            blob = rd.take(end_at - rd.off)
            if len(blob) % 2:
                raise Bad("odd names")
            s = blob.decode("utf-16-le")
            if s and not s.endswith("\x00"):
                raise Bad("unterminated name")
            names = s[:-1].split("\x00") if s else []
        else:
            rd.take(end_at - rd.off)
        if rd.off != end_at:
            raise Bad("prop overrun")
        t = rd.num()
    return nfiles, empty_stream, empty_file, names


def read_7z(arch):
    """reference read: returns [(name, bytes)] or raises Bad."""
    if len(arch) < 32:
        raise Bad("short")
    if arch[:6] != b"7z\xbc\xaf\x27\x1c":
        raise Bad("magic")
    if zlib.crc32(arch[12:32]) != struct.unpack("<I", arch[8:12])[0]:
        raise Bad("start crc")
    nh_off, nh_size, nh_crc = struct.unpack("<QQI", arch[12:32])
    if nh_size == 0:
        if nh_off:
            raise Bad("empty offset")
        return []
    if nh_off + nh_size > len(arch) - 32:
        raise Bad("header extent")
    hdr = arch[32 + nh_off:32 + nh_off + nh_size]
    if zlib.crc32(hdr) != nh_crc:
        raise Bad("header crc")
    rd = Rd(hdr, 0, len(hdr))
    t = rd.num()
    if t == 0x17:  # encoded header
        si = parse_streams_info(rd)
        if len(si["folders"]) != 1:
            raise Bad("encoded folders")
        inner = decode_folder(arch, si, 0)
        if si["sub_crcs"] and si["sub_crcs"][0] is not None \
                and zlib.crc32(inner) != si["sub_crcs"][0]:
            raise Bad("encoded crc")
        rd = Rd(inner, 0, len(inner))
        t = rd.num()
    if t != 0x01:
        raise Bad("no header")
    si = None
    fi = None
    t = rd.num()
    while t != 0x00:
        if t == 0x02:
            t2 = rd.num()
            while t2 != 0x00:
                rd.take(rd.num())
                t2 = rd.num()
        elif t == 0x04:
            si = parse_streams_info(rd)
        elif t == 0x05:
            fi = parse_files_info(rd)
        else:
            raise Bad("header prop")
        t = rd.num()

    bodies = []
    if si is not None:
        sub = 0
        for fidx, f in enumerate(si["folders"]):
            n = si["nums"][fidx]
            if n > 0:
                fb = decode_folder(arch, si, fidx)
                off = 0
                for j in range(n):
                    ln = si["sub_sizes"][sub + j]
                    if off + ln > len(fb):
                        raise Bad("substream extent")
                    body = fb[off:off + ln]
                    crc = si["sub_crcs"][sub + j]
                    if crc is not None and zlib.crc32(body) != crc:
                        raise Bad("substream crc")
                    bodies.append(body)
                    off += ln
                if off != len(fb):
                    raise Bad("folder leftover")
            sub += n
    nfiles, empty_stream, empty_file, names = \
        fi if fi else (0, [], [], [])
    if names and len(names) != nfiles:
        raise Bad("name count")
    if sum(1 for e in empty_stream if not e) != len(bodies):
        raise Bad("stream count")
    out = []
    bi = 0
    ei = 0
    for i in range(nfiles):
        name = names[i] if names else "file%d" % i
        if not empty_stream[i]:
            out.append((name, bytes(bodies[bi])))
            bi += 1
        else:
            if ei < len(empty_file) and empty_file[ei]:
                out.append((name, b""))
            ei += 1
    return out


def canon(items):
    h = hashlib.sha256()
    for n, body in sorted(items, key=lambda t: (t[0],
                                                hashlib.sha256(t[1]).hexdigest())):
        h.update(n.encode("utf-8", "surrogatepass"))
        h.update(b"|")
        h.update(hashlib.sha256(body).digest())
        h.update(b"#")
    return h.hexdigest()


def verdict(data):
    try:
        return "ok", canon(read_7z(data))
    except Bad:
        return "fail", None
    except (lzma.LZMAError, zlib.error, OSError, ValueError, EOFError,
            MemoryError, OverflowError, IndexError, struct.error,
            UnicodeDecodeError):
        return "fail", None


def python_bases():
    """liblzma/zlib/bz2-coded archives via the make_7z_fixture builders."""
    out = []
    files = [("a/%d.txt" % i, mk.text(i, i % 5 + 1)) for i in range(8)]
    solid = b"".join(b for _, b in files)
    packed, props = mk.lzma2_raw(solid)
    hdr = bytes([mk.K_HEADER, mk.K_MAIN_STREAMS])
    hdr += mk.pack_info(0, [len(packed)])
    hdr += mk.unpack_info([mk.folder1(mk.coder(b"\x21", props))], [len(solid)])
    hdr += mk.substreams_info([len(files)], [len(b) for _, b in files[:-1]],
                              [zlib.crc32(b) for _, b in files])
    hdr += bytes([mk.K_END])
    hdr += mk.files_info([n for n, _ in files])
    hdr += bytes([mk.K_END])
    out.append(mk.archive(hdr, packed))
    out.append(mk.archive(hdr, packed, encode_header=True))

    body = mk.text(99, 30)
    packed1, props1 = mk.lzma1_raw(body)
    hdr = bytes([mk.K_HEADER, mk.K_MAIN_STREAMS])
    hdr += mk.pack_info(0, [len(packed1)])
    hdr += mk.unpack_info([mk.folder1(mk.coder(b"\x03\x01\x01", props1))],
                          [len(body)], [zlib.crc32(body)])
    hdr += bytes([mk.K_END])
    hdr += mk.files_info(["lzma1.txt"])
    hdr += bytes([mk.K_END])
    out.append(mk.archive(hdr, packed1))

    trip = [("copy.bin", bytes(range(256)) * 3),
            ("defl.txt", mk.text(7, 12)),
            ("bz.txt", mk.text(8, 15))]
    cobj = zlib.compressobj(6, zlib.DEFLATED, -15)
    packs = [trip[0][1], cobj.compress(trip[1][1]) + cobj.flush(),
             bz2.compress(trip[2][1])]
    folders = [mk.folder1(mk.coder(b"\x00")),
               mk.folder1(mk.coder(b"\x04\x01\x08")),
               mk.folder1(mk.coder(b"\x04\x02\x02"))]
    hdr = bytes([mk.K_HEADER, mk.K_MAIN_STREAMS])
    hdr += mk.pack_info(0, [len(p) for p in packs])
    hdr += mk.unpack_info(folders, [len(b) for _, b in trip],
                          [zlib.crc32(b) for _, b in trip])
    hdr += bytes([mk.K_END])
    hdr += mk.files_info([n for n, _ in trip])
    hdr += bytes([mk.K_END])
    out.append(mk.archive(hdr, b"".join(packs)))

    names = ["dir", "dir/real.txt", "dir/empty.txt", "dir/sub"]
    real = mk.text(3, 4)
    packed, props = mk.lzma2_raw(real)
    hdr = bytes([mk.K_HEADER, mk.K_MAIN_STREAMS])
    hdr += mk.pack_info(0, [len(packed)])
    hdr += mk.unpack_info([mk.folder1(mk.coder(b"\x21", props))], [len(real)],
                          [zlib.crc32(real)])
    hdr += bytes([mk.K_END])
    hdr += mk.files_info(names, [True, False, True, True],
                         [False, True, False])
    hdr += bytes([mk.K_END])
    out.append(mk.archive(hdr, packed))
    return out


def main():
    # the Scala --dump step writes exactly N_GRAFT bases (sz_0..sz_5);
    # python bases go at fixed indices after them so reruns overwrite
    # instead of appending (keep in sync with SevenZipParity.bases())
    N_GRAFT = 6
    if not os.path.exists(os.path.join(OUT, "sz_%d.bin" % (N_GRAFT - 1))):
        sys.exit("run the Scala --dump step first")
    if os.path.exists(os.path.join(OUT, "sz_%d.bin" % N_GRAFT)):
        for p in glob.glob(os.path.join(OUT, "sz_*.bin")):
            if int(os.path.basename(p)[3:-4]) >= N_GRAFT:
                os.remove(p)
    pb = python_bases()
    for k, blob in enumerate(pb):
        with open(os.path.join(OUT, "sz_%d.bin" % (N_GRAFT + k)), "wb") as f:
            f.write(blob)

    bases = []
    i = 0
    while os.path.exists(os.path.join(OUT, "sz_%d.bin" % i)):
        bases.append(open(os.path.join(OUT, "sz_%d.bin" % i), "rb").read())
        i += 1

    rows = []
    for bi, base in enumerate(bases):
        v, c = verdict(base)
        if v != "ok":
            sys.exit("reference reader refuses unmutated base %d" % bi)
        rows.append("%d\t-1\t0\tok\t%s" % (bi, c))
        for pos in range(len(base)):
            for x in XORS:
                m = bytearray(base)
                m[pos] ^= x
                v, c = verdict(bytes(m))
                rows.append("%d\t%d\t%d\t%s%s"
                            % (bi, pos, x, v, "\t" + c if c else ""))
    with open(os.path.join(OUT, "7z.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print("verdicted %d bases, %d rows" % (len(bases), len(rows)))


if __name__ == "__main__":
    main()
