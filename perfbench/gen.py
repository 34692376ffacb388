"""Seeded input generators for the benchmark workloads.

Everything the engine sees is made here from the workload seed: raw
S3 server-access-log objects, the lines behind the analyst warehouse,
and the text/embedding corpus.  Each generator also returns what it
planted (per-day line counts, dead-letter lines, duplicate pairs), so
the correctness checks compare the engine's outputs with facts fixed
before the engine ran.  The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os
from itertools import repeat

import numpy as np

_MONTHS = np.array(["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])
_OPERATIONS = np.array(["REST.GET.OBJECT"] * 5 + ["REST.PUT.OBJECT", "REST.HEAD.OBJECT",
                                                   "BATCH.DELETE.OBJECT"])
_STATUS = np.array([200, 200, 200, 200, 206, 304, 403, 404, 500])
_AGENTS = np.array(['"S3Console/0.4"', '"aws-sdk-java/1.11.100"', '"Boto3/1.9.201"', '"-"'])
_BUCKETS = np.array(["awsexamplebucket", "logs-bucket", "data-bucket"])
_LONG_TAIL = (" qwerAADDff= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader "
              "s3.us-west-2.amazonaws.com TLSv1.2")
_GARBAGE = np.array(["truncated line without enough fields", "a b",
                     "ERROR partial write", "\x01binaryjunk\x7f"])

# A line is well-formed, '-'-heavy (every NULL-coercion branch), in
# the post-2019 long format (trailing fields), or garbage (dead letter).
KIND_WELL, KIND_DASH, KIND_LONG, KIND_GARBAGE = range(4)


def _table(fmt: str, n: int) -> np.ndarray:
    return np.array([fmt.format(i) for i in range(n)], dtype=object)


_CLOCK = np.array([f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(86400)],
                  dtype=object)
_OWNERS = np.array([hashlib.sha256(str(i).encode()).hexdigest() for i in range(64)], dtype=object)
_REQUESTERS = np.array(
    [f"arn:aws:sts::123456789012:assumed-role/reader-{i % 7}/i-{i * 2654435761 % 2**32:08x}"
     for i in range(512)]
    + [f"arn:aws:iam::123456789012:user/user{i}" for i in range(10)] + ["-"] * 100,
    dtype=object)
_REQIDS = np.array([f"{0x3E57427F3E000000 + i * 7919:016X}" for i in range(1 << 14)], dtype=object)
_IPS = _table("192.0.2.{}", 255)
_PARTS = _table("/part-{:05d}.tgz", 1000)
_SERVICES = _table("logs/service-{}/", 12)


def log_lines(rng: np.random.Generator, n: int, days: list[str],
              garbage_share: float = 0.02, dash_share: float = 0.05,
              long_share: float = 0.03) -> tuple[list[str], np.ndarray]:
    """``n`` raw access-log lines whose request times fall on ``days``.

    Every object key embeds the date it was written, 0-899 days
    before the request (``logs/<service>/YYYY/MM/DD/part-N.tgz``), so
    the Days-Apart threshold keeps a proper subset.  Returns the lines
    and each line's kind.  Built column-wise, then joined per line."""
    u = rng.random(n)
    kind = np.full(n, KIND_WELL)
    kind[u < garbage_share + dash_share + long_share] = KIND_LONG
    kind[u < garbage_share + dash_share] = KIND_DASH
    kind[u < garbage_share] = KIND_GARBAGE

    day_list = np.array(days, dtype="datetime64[D]")
    day_i = rng.integers(0, len(days), n)
    day_stamp = np.array([f"[{d[8:10]}/{_MONTHS[int(d[5:7]) - 1]}/{d[0:4]}:"
                          for d in np.datetime_as_string(day_list).tolist()], dtype=object)
    stamp = list(map("{}{} +0000]".format, day_stamp[day_i].tolist(),
                     _CLOCK[rng.integers(0, 86400, n)].tolist()))
    # written-date paths: one table per request day, 900 offsets each
    wtab = np.array([
        np.char.replace(np.datetime_as_string(d - np.arange(900).astype("timedelta64[D]")),
                        "-", "/").astype(object)
        for d in day_list
    ])
    key = list(map("{}{}{}".format, _SERVICES[rng.integers(0, 12, n)].tolist(),
                   wtab[day_i, rng.integers(0, 900, n)].tolist(),
                   _PARTS[rng.integers(0, 1000, n)].tolist()))
    bucket = _BUCKETS[rng.integers(0, len(_BUCKETS), n)].tolist()
    owner = _OWNERS[rng.integers(0, len(_OWNERS), n)].tolist()
    reqid = _REQIDS[rng.integers(0, len(_REQIDS), n)].tolist()
    op = _OPERATIONS[rng.integers(0, len(_OPERATIONS), n)].tolist()
    sent = rng.integers(100, 10_000_000, n)
    total = rng.integers(5, 5000, n)
    dash_tail = repeat('- "-" - - - - - - "-" "-" -')
    cols = {
        KIND_WELL: [
            owner, bucket, stamp, _IPS[rng.integers(1, 255, n)].tolist(),
            _REQUESTERS[rng.integers(0, len(_REQUESTERS), n)].tolist(), reqid, op, key,
            list(map('"GET /{}/{} HTTP/1.1"'.format, bucket, key)),
            _STATUS[rng.integers(0, len(_STATUS), n)].astype(str).tolist(), repeat("-"),
            sent.astype(str).tolist(), (sent + rng.integers(0, 1000, n)).astype(str).tolist(),
            total.astype(str).tolist(), (total // 2).astype(str).tolist(), repeat('"-"'),
            _AGENTS[rng.integers(0, len(_AGENTS), n)].tolist(), repeat("-"),
        ],
        KIND_DASH: [owner, bucket, stamp, repeat("192.0.2.9 -"), reqid, op, dash_tail],
    }
    well = list(map(" ".join, zip(*cols[KIND_WELL])))
    dash = list(map(" ".join, zip(*cols[KIND_DASH])))
    garbage = _GARBAGE[rng.integers(0, len(_GARBAGE), n)].tolist()
    out = [
        w if k == KIND_WELL else w + _LONG_TAIL if k == KIND_LONG else d if k == KIND_DASH else g
        for k, w, d, g in zip(kind.tolist(), well, dash, garbage)
    ]
    return out, kind


def write_log_objects(root: str, source_bucket: str, days: list[str], lines_per_day: int,
                      objects_per_day: int, seed: int) -> dict:
    """Raw log objects ``<root>/<source_bucket>/<dt>-HH-MM-SS-<suffix>``,
    the layout S3 server-access logging delivers.  Returns the planted
    facts: lines per delivery day, dead-letter lines per day, and a
    digest of every byte written."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(root, source_bucket), exist_ok=True)
    facts = {"rows_by_dt": {}, "dead_letter_by_dt": {}, "objects": 0, "lines": 0}
    digest = hashlib.sha256()
    for dt in days:
        lines, kind = log_lines(rng, lines_per_day, [dt])
        facts["rows_by_dt"][dt] = len(lines)
        facts["dead_letter_by_dt"][dt] = int((kind == KIND_GARBAGE).sum())
        bounds = np.linspace(0, len(lines), objects_per_day + 1).astype(int).tolist()
        for j in range(objects_per_day):
            name = f"{dt}-{j // 60:02d}-{j % 60:02d}-00-{seed:08X}{j:08X}"
            data = ("\n".join(lines[bounds[j]:bounds[j + 1]]) + "\n").encode("utf-8")
            digest.update(name.encode() + b"\0" + data)
            with open(os.path.join(root, source_bucket, name), "wb") as fh:
                fh.write(data)
            facts["objects"] += 1
        facts["lines"] += len(lines)
    facts["sha256"] = digest.hexdigest()
    return facts


def warehouse_lines(n: int, days: list[str], seed: int) -> tuple[list[str], str]:
    """Well-formed access-log lines for the analyst warehouse (no dead
    letters: every key carries a parseable written-date, which the
    DuckDB twin of Days-Apart requires).  Returns lines and digest."""
    rng = np.random.default_rng([seed, 2])
    lines, _ = log_lines(rng, n, days, garbage_share=0.0, dash_share=0.0)
    return lines, hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


# -- corpus -----------------------------------------------------------------

# BM25 query terms get a fixed, moderate frequency so every query in
# the registry's query set retrieves a non-trivial ranking.
_QUERY_TERMS = ["spark", "window", "join", "fast", "hash", "merge", "batch",
                "customer", "query", "stream", "vector"]


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens.tolist()}
    words -= set(_QUERY_TERMS)
    return np.array(sorted(words) + _QUERY_TERMS)


def corpus(n_docs: int, seed: int, exact_share: float = 0.05, near_share: float = 0.05,
           words_per_doc: int = 50) -> dict:
    """Documents of ~``words_per_doc`` Zipf-drawn words (~300 chars).

    The first ``n_base`` ids are distinct base documents; the rest are
    planted copies of a random base document: exact duplicates (half of
    them with case/whitespace variants, which normalized fingerprints
    still collapse) and near-duplicates (about 4% of words replaced).
    Returns ``doc_id``/``text`` columns plus the planted id lists."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    perm = rng.permutation(len(vocab))
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near

    idx = perm[rng.choice(len(vocab), size=(n_base, words_per_doc), p=p)]
    texts = [" ".join(row) for row in vocab[idx].tolist()]
    seen: set[str] = set()
    for i, t in enumerate(texts):  # bases must be distinct to be "originals"
        while t in seen:
            t = " ".join(vocab[rng.integers(0, len(vocab), words_per_doc)].tolist())
        seen.add(t)
        texts[i] = t

    src_exact = rng.integers(0, n_base, n_exact).tolist()
    variant = rng.random(n_exact) < 0.5
    for s, v in zip(src_exact, variant.tolist()):
        t = texts[s]
        texts.append(t.upper().replace(" ", "  ") if v else t)
    src_near = rng.integers(0, n_base, n_near).tolist()
    n_swap = max(1, words_per_doc // 25)
    for s in src_near:
        t = texts[s]
        while t in seen:  # a variant must differ from every text so far
            words = texts[s].split(" ")
            for pos in rng.choice(len(words), n_swap, replace=False).tolist():
                words[pos] = vocab[rng.integers(0, len(vocab))]
            t = " ".join(words)
        seen.add(t)
        texts.append(t)

    exact_ids = list(range(n_base, n_base + n_exact))
    near_ids = list(range(n_base + n_exact, n_docs))
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "exact_dups": exact_ids,
        "near_pairs": list(zip(src_near, near_ids)),
        "sha256": hashlib.sha256("\n".join(texts).encode("utf-8")).hexdigest(),
    }


def embeddings(n_vec: int, seed: int, dim: int = 32, n_clusters: int = 40,
               dup_share: float = 0.05) -> dict:
    """Clustered unit-scale embeddings with planted near-duplicates.

    Vectors scatter around ``n_clusters`` centres (pairwise cosine of
    distinct members ~0.3, far below any dedup threshold); the last
    ``dup_share`` of ids are copies of an earlier vector with noise
    small enough that their cosine to the source exceeds 0.99."""
    rng = np.random.default_rng([seed, 4])
    n_dup = int(n_vec * dup_share)
    n_base = n_vec - n_dup
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    base = centres[rng.integers(0, n_clusters, n_base)] + rng.normal(scale=0.3, size=(n_base, dim))
    src = rng.integers(0, n_base, n_dup)
    dups = base[src] + rng.normal(scale=0.005, size=(n_dup, dim))
    vecs = np.vstack([base, dups]).astype(np.float32)
    return {
        "vec_id": list(range(n_vec)),
        "embedding": vecs,
        "dup_pairs": list(zip(src.tolist(), range(n_base, n_vec))),
        "sha256": hashlib.sha256(vecs.tobytes()).hexdigest(),
    }
