#!/usr/bin/env python3
"""Regenerate src/test/resources/blake2b_goldens.tsv.

Captures REAL output of Python stdlib hashlib — the exact library the
reference's count_min_sketch.py / bloom_filter.py call — for:
  - blake2b digests (keyed + unkeyed, several sizes and block boundaries),
  - CMS column indices (sha256 row salts, blake2b-16 keyed, big-endian
    mod width, reference count_min_sketch.py:_hash),
  - Bloom m/k sizing and double-hash indices (reference bloom_filter.py).
"""
import hashlib, math

out = []
out.append("# BLAKE2b + reference-sketch golden vectors, GENERATED with Python")
out.append("# stdlib hashlib (the exact library the reference calls) — real")
out.append("# captured output, not a hand reconstruction. Regenerate with")
out.append("# scripts/gen_blake2b_goldens.py.")
out.append("#")
out.append("# section<TAB>fields...")

cases = [
    (b"", b"", 64), (b"abc", b"", 64), (b"abc", b"", 16),
    (b"the quick brown fox", b"", 16),
    (b"abc", b"h1", 16), (b"abc", b"h2", 16),
    (b"spark", b"h1", 16), (b"spark", b"h2", 16),
    (b"a"*127, b"", 16), (b"a"*128, b"", 16), (b"a"*129, b"", 16),
    (b"a"*256, b"", 16), (b"a"*1000, b"key-material", 32),
    (b"", b"h1", 16),
    (b"caf\xc3\xa9", b"h1", 16),
]
for data, key, n in cases:
    h = hashlib.blake2b(data, digest_size=n, key=key).hexdigest()
    out.append(f"blake2b\t{data.hex()}\t{key.hex()}\t{n}\t{h}")

seed, width, depth = 0, 544, 7
salts = [hashlib.sha256(f"{seed}-{i}".encode()).digest() for i in range(depth)]
for item in ["spark", "query", "the", "scanner", "café", "x", "count min sketch"]:
    cols = [int.from_bytes(hashlib.blake2b(item.encode(), digest_size=16,
                                           key=salts[r]).digest(), "big") % width
            for r in range(depth)]
    out.append(f"cms_cols\t{item}\t{seed}\t{width}\t{depth}\t" + ",".join(map(str, cols)))

for cap, err in [(100000, 0.01), (1000, 0.05), (500, 0.01)]:
    m = -int(round(cap * math.log(err) / (math.log(2) ** 2)))
    k = max(1, int(round((m / cap) * math.log(2))))
    out.append(f"bloom_mk\t{cap}\t{err}\t{m}\t{k}")
m = -int(round(100000 * math.log(0.01) / (math.log(2) ** 2)))
k = max(1, int(round((m / 100000) * math.log(2))))
for item in ["spark query scan", "the quick brown", "café au lait"]:
    h1 = int.from_bytes(hashlib.blake2b(item.encode(), digest_size=16, key=b"h1").digest(), "big")
    h2 = int.from_bytes(hashlib.blake2b(item.encode(), digest_size=16, key=b"h2").digest(), "big")
    idx = [(h1 + i*h2 + i*i) % m for i in range(k)]
    out.append(f"bloom_idx\t{item}\t{m}\t{k}\t" + ",".join(map(str, idx)))

# --- end-to-end sketch STATE vectors: the reference's full serialized ---
# Bloom bytearray and CMS table after inserting a fixed item stream —
# pins the engine's aggregator output byte-for-byte / cell-for-cell, not
# just the per-item hashing.
STREAM = ("spark query scan the quick brown fox jumps over the lazy dog "
          "spark spark query count min sketch bloom filter café naïve "
          "the the the a b c x y z data pipeline shuffle partition "
          "broadcast join agg window state watermark").split()

cap, err = 500, 0.01
m = -int(round(cap * math.log(err) / (math.log(2) ** 2)))
k = max(1, int(round((m / cap) * math.log(2))))
bits = bytearray((m + 7) // 8)
for item in STREAM:
    h1 = int.from_bytes(hashlib.blake2b(item.encode(), digest_size=16, key=b"h1").digest(), "big")
    h2 = int.from_bytes(hashlib.blake2b(item.encode(), digest_size=16, key=b"h2").digest(), "big")
    for i in range(k):
        idx = (h1 + i * h2 + i * i) % m
        bits[idx >> 3] |= 1 << (idx & 7)  # LSB-first, reference bytearray
out.append(f"bloom_state\t{cap}\t{err}\t{' '.join(STREAM)}\t{bytes(bits).hex()}")

seed, width, depth = 0, 28, 3  # (ceil(e/0.1), ceil(ln(1/0.05))): small enough to pin whole
salts = [hashlib.sha256(f"{seed}-{i}".encode()).digest() for i in range(depth)]
table = [[0] * width for _ in range(depth)]
for item in STREAM:
    for r in range(depth):
        c = int.from_bytes(hashlib.blake2b(item.encode(), digest_size=16,
                                           key=salts[r]).digest(), "big") % width
        table[r][c] += 1
flat = ",".join(str(v) for row in table for v in row)
out.append(f"cms_state\t{seed}\t{width}\t{depth}\t{' '.join(STREAM)}\t{flat}")

open("src/test/resources/blake2b_goldens.tsv", "w").write("\n".join(out) + "\n")
print(f"wrote {len(out)} lines")
