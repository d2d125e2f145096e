"""Deterministic fixture corpora (FIXTURES.md) in the contract schema.

Corpus A/B translate the reference's own test fixtures
(/root/reference/tests/test_deduplidog.py:12-37, tests/setup.py:56-83,
tests/test_data/disk/) into rows of ``(repo, path, commit, lang,
content)`` + audit columns ``mtime`` and ``is_symlink``. Corpus C is the
engine-scale synthetic corpus with planted duplicate classes and exact
ground truth.
"""

from __future__ import annotations

import random
import string
import zlib
from datetime import datetime, timedelta, timezone

from pyspark.sql import types as T

T0 = datetime(2026, 1, 1, 0, 0, 0, tzinfo=timezone.utc)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("mtime", T.TimestampType()),
        T.StructField("is_symlink", T.BooleanType()),
    ]
)


def _row(repo, path, content, *, lang="txt", commit="c0", offset_s=0, symlink=False):
    return {
        "repo": repo,
        "path": path,
        "commit": commit,
        "lang": lang,
        "content": content,
        "mtime": T0 + timedelta(seconds=offset_s),
        "is_symlink": symlink,
    }


def seeded_text(seed: int) -> str:
    """The reference's content generator (tests/setup.py:77-79):
    random.seed(s); k = 10 + s*10 chars of letters+digits."""
    rng = random.Random()
    rng.seed(seed)
    return "".join(rng.choices(string.ascii_letters + string.digits, k=10 + seed * 10))


# --- Corpus A: mtime matrix (FIXTURES.md §1) --------------------------------

_WORK_SPEC = [  # (file index, content seed, mtime offset seconds)
    (1, 2, 0),
    (2, 3, 0),
    (4, 1, 3600),
    (5, 1, 7200),
    (6, 1, 3601),
    (7, 1, 3599),
    (8, 1, -3600),
    (9, 1, -10),
    (10, 1, -31536000),
    (11, 1, 0),
]


def corpus_a_rows() -> list[dict]:
    rows = [
        _row("originals", f"file_{i}", seeded_text(1), offset_s=0) for i in range(12)
    ]
    rows += [
        _row("work", f"file_{i}", seeded_text(seed), offset_s=off)
        for i, seed, off in _WORK_SPEC
    ]
    return rows


# Golden expectations per config (FIXTURES.md §1 table, derived from the
# reference's own assertions, tests/test_deduplidog.py:39-85).
CORPUS_A_GOLDEN = {
    "default": {"affected": {11}, "warned": set()},
    "ignore_date_neglect": {"affected": {4, 5, 6, 7, 8, 9, 10, 11}, "warned": set()},
    "ignore_date": {"affected": {4, 5, 6, 7, 11}, "warned": {8, 9, 10}},
    "tolerate1_neglect": {"affected": {4, 7, 8, 9, 11}, "warned": set()},
    "tolerate1": {"affected": {4, 7, 11}, "warned": {8, 9}},
    "tolerate2_neglect": {"affected": {4, 5, 6, 7, 8, 9, 11}, "warned": set()},
    "tolerate2": {"affected": {4, 5, 6, 7, 11}, "warned": {8, 9}},
    "tolerate2_invert": {"no_match": {1, 2, 10}},
}


# --- Corpus B: disk tree (FIXTURES.md §2) -----------------------------------

_VOCAB = [
    "def",
    "return",
    "import",
    "class",
    "self",
    "for",
    "in",
    "if",
    "else",
    "while",
    "lambda",
    "yield",
    "from",
    "with",
    "try",
    "except",
    "raise",
    "assert",
    "pass",
    "None",
    "True",
    "False",
    "print",
    "len",
    "range",
    "open",
    "data",
    "value",
    "result",
    "index",
    "count",
    "total",
    "buffer",
    "stream",
    "token",
    "parse",
    "node",
    "tree",
    "hash",
    "key",
]


def token_stream(seed: int, n_tokens: int) -> list[str]:
    rng = random.Random(seed)
    return [rng.choice(_VOCAB) + str(rng.randrange(100)) for _ in range(n_tokens)]


def near_variant(tokens: list[str], keep_ratio: float, seed: int) -> list[str]:
    """Replace a (1-keep_ratio) fraction of tokens with fresh ones —
    the row analog of a resized image (FIXTURES.md §2: 'same seeded
    token stream with ~1 edit per 10 tokens')."""
    rng = random.Random(seed)
    out = list(tokens)
    n_edit = int(len(tokens) * (1.0 - keep_ratio))
    for pos in rng.sample(range(len(tokens)), n_edit):
        out[pos] = rng.choice(_VOCAB) + "_" + str(rng.randrange(10000))
    return out


def _text(tokens: list[str]) -> str:
    return " ".join(tokens)


def corpus_b_rows() -> list[dict]:
    a = "one\n"
    b = "two\n"
    u = "unique content here\n"
    s = "symlinkable text\n"
    d1 = token_stream(101, 1200)  # folder2/dog1.jpg — the "original" photo
    d1_big = near_variant(d1, 0.85, 201)  # folder1/dog1.jpg — resized copy
    d2 = token_stream(102, 2000)  # folder2/folder2.1/dog2.jpg
    # dog2_smaller: looser near-dup — found only at relaxed threshold
    # (reference: accepted_img_hash_diff=3, tests/test_media_magic.py:22-34)
    d2_small = near_variant(d2[: int(len(d2) * 0.75)], 0.75, 202)
    v2 = token_stream(103, 1500)  # folder2/folder2.1/dog2.mp4
    v2_small = near_variant(v2[: int(len(v2) * 0.9)], 0.92, 203)  # folder1/dog2.mp4

    return [
        _row("folder1", "1.txt", a),
        _row("folder1", "2.txt", b),
        _row("folder1", "unique.txt", u),
        _row("folder1", "symlinkable.txt", s),
        _row("folder1", "dog1.jpg", _text(d1_big), lang="image", offset_s=-29),
        _row("folder1", "dog2_smaller.jpg", _text(d2_small), lang="image"),
        _row("folder1", "dog2.mp4", _text(v2_small), lang="video"),
        _row("folder2", "1-different-name.txt", a),
        _row("folder2", "2.txt", b),
        _row("folder2", "dog1.jpg", _text(d1), lang="image"),
        _row("folder2", "dog1_other_name.jpg", _text(d1), lang="image"),
        _row("folder2", "folder2.1/1.txt", a),
        _row("folder2", "folder2.1/dog2.jpg", _text(d2), lang="image"),
        _row("folder2", "folder2.1/dog2.mp4", _text(v2), lang="video"),
        _row("folder2", "symlinkable.txt", s, symlink=True),
    ]


# --- Corpus C: engine-scale synthetic with ground truth (FIXTURES.md §3) ----


def corpus_c_rows(
    n_repos: int = 20,
    files_per_repo: int = 100,
    seed: int = 42,
    boilerplate_frac: float = 0.05,
    doc_tokens: int = 300,
) -> tuple[list[dict], list[tuple[str, str]]]:
    """Planted duplicate classes with exact ground-truth pair list.

    Classes per FIXTURES.md §3: exact cross-repo copies, near-dups at
    Jaccard ≈ {0.95, 0.9, 0.8, 0.7}, shared-substring pairs (common
    block inside otherwise-different files), a skew group (one
    boilerplate content in ~5% of rows — exercises salting / bucket
    caps), and uniques. Returns (rows, truth_pairs) where truth pairs
    are (repo/path, repo/path) tuples with lexicographically smaller id
    first; exact-dup pairs are enumerated within each content group.
    """
    rng = random.Random(seed)
    rows: list[dict] = []
    truth: list[tuple[str, str]] = []
    boiler = _text(token_stream(9999, doc_tokens))
    shared_block = _text(token_stream(8888, 200))

    exact_groups: dict[str, list[str]] = {}
    uid = 0
    for r in range(n_repos):
        repo = f"repo_{r:03d}"
        for f in range(files_per_repo):
            uid += 1
            path = f"src/file_{f:04d}.py"
            fid = f"{repo}/{path}"
            roll = rng.random()
            if roll < boilerplate_frac:
                content = boiler
                exact_groups.setdefault("boiler", []).append(fid)
            elif roll < boilerplate_frac + 0.05:
                # exact copy class: same content planted across repos
                g = f"exact_{rng.randrange(10)}"
                content = _text(token_stream(zlib.crc32(g.encode()) % (2**31), doc_tokens))
                exact_groups.setdefault(g, []).append(fid)
            elif roll < boilerplate_frac + 0.05 + 0.08:
                # near-dup: base + variant pair inside this row + a twin row
                j = rng.choice([0.95, 0.9, 0.8, 0.7])
                keep = 2 * j / (1 + j)  # line-replacement → Jaccard ≈ j
                base = token_stream(uid * 7 + 1, doc_tokens)
                content = _text(base)
                twin_path = f"src/near_{f:04d}.py"
                twin_fid = f"{repo}/{twin_path}"
                rows.append(
                    _row(
                        repo,
                        twin_path,
                        _text(near_variant(base, keep, uid * 7 + 2)),
                        lang="py",
                    )
                )
                truth.append(tuple(sorted((fid, twin_fid))))
            elif roll < boilerplate_frac + 0.05 + 0.08 + 0.04:
                # shared-substring pair: common 2 kB block inside
                # otherwise-different files
                pre = _text(token_stream(uid * 11 + 1, doc_tokens // 2))
                post = _text(token_stream(uid * 11 + 2, doc_tokens // 2))
                content = pre + " " + shared_block + " " + post
            else:
                content = _text(token_stream(uid * 13 + 5, doc_tokens))
            rows.append(_row(repo, path, content, lang="py"))

    for fids in exact_groups.values():
        fids = sorted(fids)
        for i in range(len(fids)):
            for k in range(i + 1, len(fids)):
                truth.append((fids[i], fids[k]))
    return rows, sorted(set(truth))


def to_spark_df(spark, rows: list[dict]):
    return spark.createDataFrame(rows, schema=FILES_SCHEMA)
