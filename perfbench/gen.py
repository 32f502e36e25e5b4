"""Seeded input generators for the benchmark workloads.

Everything the engine receives is generated here from ``--seed``: parquet
tables and query strings. Outputs are cached under ``perfbench/.cache`` by
(kind, seed, size), so a repeated seed reuses them and generation never
lands in a timed region.

Two families:

- ``sf01_tables``: tables shaped like the engine's sf0.1 test data
  (``documents`` 5,000 docs over a 31-word vocabulary, ``events`` 100,000
  rows, ``embeddings`` 2,000 x 64). Same columns, types and value ranges.
- ``code_corpus``: the corpus shape ``(docID, repo, path, commit, lang,
  content, content_sha256)`` with code-shaped text: ``import``/``def``
  lines in every doc, Zipf identifiers over a large vocabulary and one
  unique rare token per doc.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

SF01_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SF01_LANGS = ["en", "zh", "es", "fr", "de"]
SF01_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

CODE_KEYWORDS = ["import", "def", "class", "return", "public", "void", "if", "for", "self"]
#: skewed keyword draw for code lines and lexical queries
CODE_KEYWORD_P = np.array([0.3, 0.2, 0.1, 0.1, 0.08, 0.08, 0.06, 0.05, 0.03])
CODE_LANGS = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}

#: hybrid (normalization, combination) pairs, in request order
HYBRID_PAIRS = [
    ("min_max", "arithmetic_mean"),
    ("min_max", "geometric_mean"),
    ("min_max", "harmonic_mean"),
    ("l2", "arithmetic_mean"),
    ("z_score", "arithmetic_mean"),
    ("rrf", "rrf"),
]


def cache_path(kind: str, seed: int, size: int) -> str:
    return os.path.join(CACHE_DIR, f"{kind}-s{seed}-n{size}")


def seeded_rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding one never shifts another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _join_runs(tokens: list[str], counts: np.ndarray, sep: str) -> list[str]:
    ends = np.cumsum(counts)
    starts = ends - counts
    return [sep.join(tokens[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def publish(tmp: str, final: str) -> None:
    """Atomic rename, so an interrupted run never leaves a half cache entry."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same entry first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# sf0.1-shaped tables
# ---------------------------------------------------------------------------


def sf01_tables(seed: int, n_docs: int = 5000, n_events: int = 100_000, n_vecs: int = 2000) -> str:
    """Write documents/events/embeddings parquet; return their directory."""
    final = cache_path("sf01", seed, n_docs)
    if os.path.exists(os.path.join(final, "embeddings.parquet")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)

    rng = seeded_rng(seed, "documents")
    n_words = rng.integers(10, 101, n_docs)
    words = np.array(SF01_WORDS)[rng.integers(0, len(SF01_WORDS), int(n_words.sum()))]
    texts = _join_runs(words.tolist(), n_words, " ")
    # 5% near-duplicates: another doc's text plus the marker word "dup"
    dup_ids = rng.choice(np.arange(1, n_docs), size=n_docs // 20, replace=False)
    for i in dup_ids.tolist():
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(SF01_LANGS)[rng.choice(len(SF01_LANGS), n_docs, p=SF01_LANG_P)],
            "source": [f"src{i % 20}" for i in ids.tolist()],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(docs, os.path.join(tmp, "documents.parquet"))

    rng = seeded_rng(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
        }
    )
    _write(
        events,
        os.path.join(tmp, "events.parquet"),
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )

    rng = seeded_rng(seed, "embeddings")
    x = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    _write(
        emb,
        os.path.join(tmp, "embeddings.parquet"),
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    publish(tmp, final)
    return final


def hybrid_requests(seed: int, n: int, stream: str = "hybrid_requests") -> list[dict]:
    """Hybrid requests: 2-3 ``match`` clauses of 1-3 terms each.

    The (normalization, combination) pair and the clause count follow a
    fixed 12-request cycle (every pair with 2 clauses, then every pair with
    3), so every run has the same mix; the seed picks the terms."""
    rng = seeded_rng(seed, stream)
    out = []
    for i in range(n):
        norm, comb = HYBRID_PAIRS[i % len(HYBRID_PAIRS)]
        n_clauses = 2 + (i // len(HYBRID_PAIRS)) % 2
        clauses = [
            " ".join(rng.choice(SF01_WORDS, size=int(rng.integers(1, 4)), replace=False))
            for _ in range(n_clauses)
        ]
        out.append({"clauses": clauses, "normalization": norm, "combination": comb})
    return out


# ---------------------------------------------------------------------------
# code corpus, lexical queries, index update
# ---------------------------------------------------------------------------


def _code_docs(rng: np.random.Generator, ids: np.ndarray, vocab_size: int, seed: int) -> pd.DataFrame:
    n = len(ids)
    zipf_p = 1.0 / np.arange(1, vocab_size + 1)
    zipf_p /= zipf_p.sum()
    n_body = rng.integers(3, 31, n)
    # per doc: "import X", "def X", n_body keyword lines, "def uniq_<id>():"
    n_lines = n_body + 3
    line_kw = rng.choice(len(CODE_KEYWORDS), int(n_body.sum()), p=CODE_KEYWORD_P)
    n_idents = rng.integers(1, 5, int(n_body.sum()))
    head_idents = rng.choice(vocab_size, 2 * n, p=zipf_p)
    body_idents = rng.choice(vocab_size, int(n_idents.sum()), p=zipf_p)
    kw = np.array(CODE_KEYWORDS)
    body_tokens = [f"id{r}" for r in body_idents.tolist()]
    body = [
        k + " " + t
        for k, t in zip(kw[line_kw].tolist(), _join_runs(body_tokens, n_idents, " "))
    ]
    lines: list[str] = []
    pos = 0
    for j, (doc_id, nb) in enumerate(zip(ids.tolist(), n_body.tolist())):
        lines.append(f"import id{head_idents[2 * j]}")
        lines.append(f"def id{head_idents[2 * j + 1]}():")
        lines.extend(body[pos : pos + nb])
        lines.append(f"def uniq_{doc_id:06d}():")
        pos += nb
    content = _join_runs(lines, n_lines, "\n")
    langs = list(CODE_LANGS)
    lang = [langs[i % len(langs)] for i in ids.tolist()]
    return pd.DataFrame(
        {
            "docID": ids.astype(np.int64),
            "repo": [f"org{i % 7}/proj{i % 13}" for i in ids.tolist()],
            "path": [f"src/mod{i % 11}/file{i}.{CODE_LANGS[g]}" for i, g in zip(ids.tolist(), lang)],
            "commit": [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in ids.tolist()],
            "lang": lang,
            "content": content,
            "content_sha256": [hashlib.sha256(c.encode()).hexdigest() for c in content],
        }
    )


def code_corpus(seed: int, n_docs: int, vocab_size: int = 20_000) -> pd.DataFrame:
    return _code_docs(seeded_rng(seed, "code_corpus"), np.arange(n_docs), vocab_size, seed)


def lexical_queries(
    seed: int, n: int, n_docs: int, vocab_size: int = 20_000, stream: str = "lexical_queries"
) -> list[str]:
    """One skewed keyword, 1-2 Zipf identifiers, and on every third query a
    doc's rare token (fixed pattern, seeded terms)."""
    rng = seeded_rng(seed, stream)
    zipf_p = 1.0 / np.arange(1, vocab_size + 1)
    zipf_p /= zipf_p.sum()
    out = []
    for i in range(n):
        terms = [CODE_KEYWORDS[int(rng.choice(len(CODE_KEYWORDS), p=CODE_KEYWORD_P))]]
        terms += [f"id{r}" for r in rng.choice(vocab_size, 1 + i % 2, p=zipf_p).tolist()]
        if i % 3 == 2:
            terms.append(f"uniq_{int(rng.integers(0, n_docs)):06d}")
        out.append(" ".join(terms))
    return out


def code_update(seed: int, base: pd.DataFrame, vocab_size: int = 20_000) -> dict:
    """A seeded new corpus state for one ``update_index`` sync: 0.5% of the
    docs changed, 0.5% added and 0.5% removed. Returns the full new state
    and the (changed, added, removed) counts the update must report."""
    rng = seeded_rng(seed, "code_update")
    m = max(1, len(base) // 200)
    ids = base["docID"].to_numpy()
    picked = rng.choice(ids, 2 * m, replace=False)  # first m change, the rest go

    changed = base[base["docID"].isin(picked[:m])].copy()
    changed["content"] = [
        c + f"\nreturn id{int(r)} changed" for c, r in zip(changed["content"], rng.integers(0, vocab_size, m))
    ]
    changed["content_sha256"] = [hashlib.sha256(c.encode()).hexdigest() for c in changed["content"]]
    next_id = int(ids.max()) + 1
    added = _code_docs(rng, np.arange(next_id, next_id + m), vocab_size, seed)
    kept = base[~base["docID"].isin(picked)]
    state = pd.concat([kept, changed, added]).sort_values("docID", ignore_index=True)
    return {"state": state, "expect": {"changed": m, "added": m, "removed": m}}


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


def save_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
