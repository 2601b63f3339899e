#!/usr/bin/env python3
"""Regenerate the query-surface index table in README.md.

Scans src/main/scala/graft/queries/*Queries.scala for GraftQuery
registrations and rewrites the block between the SURFACE-INDEX markers.
Run from the repo root: python3 tools/gen_surface_index.py
"""
import re, glob, collections

FAMILY_DESC = {
    "q": "relational core (agg/join/window/set/as-of/range/skew)",
    "etl": "document ETL (reference parity: extract/pivot/normalize/profile/SCD)",
    "dedup": "deduplication (exact, MinHash-LSH, SimHash, substring, boilerplate)",
    "sim": "similarity search / ANN (brute, IVF, PQ, LSH, RRF)",
    "text": "text analysis (quality, langid, TF-IDF, BM25, PII, entropy)",
    "doc": "office/book documents (DOCX, EPUB, XLSX, PPTX, ODT, RTF)",
    "sub": "captions (SRT, WebVTT, ASS/SSA: cues, coverage, ordering audits)",
    "ev": "events / temporal / streaming twins",
    "samp": "sampling (hash, stratified, weighted, splits, coreset)",
    "sketch": "sketches (KMV, CMS, Bloom, HLL, AMS)",
    "mix": "mixture planning (temperature, quotas, water-filling, anneal)",
    "qc": "quality-control audits",
    "layout": "storage layout (Z-order, bucketing, compaction, zone maps)",
    "pack": "sequence packing",
    "vocab": "BPE vocabulary",
    "graph": "graph (PageRank, triangles, communities)",
    "decon": "eval-set decontamination",
    "clust": "clustering (k-means IVF trainer)",
    "mm": "multimodal (image/audio/video codecs + ISOBMFF, Matroska, Ogg, EXIF, ID3 metadata)",
    "assoc": "association rules",
    "sz": "7z archives (own header walk; xz-java/commons-compress/JDK folders, encoded headers)",
    "mail": "email corpora (RFC 5322 + MIME, RFC 2047, mboxrd mailboxes)",
    "curate": "curation rules (Gopher)",
    "pipe": "pipeline composition",
    "warc": "WARC crawl ingestion (gzip members, record grammar, HTTP triage)",
    "url": "crawl frontier (RFC 3986 canonicalization, eTLD+1, robots.txt)",
    "tar": "WebDataset shards (USTAR round trip, poisoned-shard scan)",
    "html": "crawl HTML main-text extraction (boilerplate drop, block breaks)",
    "zip": "ZIP shard container (deterministic writer, streamed read)",
    "arrow": "Arrow IPC shards (validated buffers, poisoned-stream scan)",
    "avro": "Avro OCF record shards",
    "br": "brotli shards (RFC 7932 reader, uncompressed-meta-block writer)",
    "bz": "bzip2 shards (commons-compress, multi-stream)",
    "cb": "CBOR record shards (RFC 8949)",
    "chat": "instruction/chat data (ChatML render, turn QC, ShareGPT)",
    "gg": "GGUF tensor shards (llama.cpp container)",
    "mp": "msgpack record shards",
    "npy": "NumPy .npz tensor shards",
    "pref": "DPO preference-pair construction",
    "sn": "snappy-framed shards",
    "st": "safetensors shards (F32 + F16)",
    "tfr": "TFRecord shards (CRC-masked framing)",
    "xz": "xz/LZMA2/LZMA shards (own container walk over xz-java)",
    "zst": "zstd/LZ4/gzip shards (+ dictionary frames, seekable format)",
}

def scan():
    rows = []
    for f in sorted(glob.glob("src/main/scala/graft/queries/*Queries.scala")):
        src = open(f).read().splitlines()
        for i, l in enumerate(src):
            if "GraftQuery(" in l:
                for j in range(i, min(i + 3, len(src))):
                    m = re.search(r'"([a-z0-9_]+)"', src[j])
                    if m:
                        rows.append((m.group(1), f.split("/")[-1], j + 1))
                        break
    return sorted(rows)

def render(rows):
    fams = collections.OrderedDict()
    for name, f, ln in rows:
        fams.setdefault(re.match(r"([a-z]+)", name).group(1), []).append((name, f, ln))
    out = []
    out.append(f"The full registered surface: **{len(rows)} queries**, every one "
               "paired with a DuckDB oracle (or a documented golden pin). "
               "Regenerate with `python3 tools/gen_surface_index.py`. "
               "Per-operator verification status lives in [COVERAGE.md](COVERAGE.md).")
    out.append("")
    for fam in sorted(fams):
        qs = fams[fam]
        out.append(f"### `{fam}*` — {FAMILY_DESC.get(fam, '')} ({len(qs)})")
        out.append("")
        out.append("| query | registered at |")
        out.append("|---|---|")
        for name, f, ln in qs:
            out.append(f"| `{name}` | `src/main/scala/graft/queries/{f}:{ln}` |")
        out.append("")
    return "\n".join(out)

BEGIN = "<!-- SURFACE-INDEX:BEGIN (generated by tools/gen_surface_index.py) -->"
END = "<!-- SURFACE-INDEX:END -->"

def main():
    body = render(scan())
    readme = open("README.md").read()
    block = f"{BEGIN}\n{body}\n{END}"
    if BEGIN in readme:
        readme = re.sub(re.escape(BEGIN) + r".*?" + re.escape(END), block,
                        readme, flags=re.S)
    else:
        readme = readme.rstrip() + "\n\n## Query surface index\n\n" + block + "\n"
    open("README.md", "w").write(readme)
    print("README.md surface index updated:", len(scan()), "queries")

if __name__ == "__main__":
    main()
