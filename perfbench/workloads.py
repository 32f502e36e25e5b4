"""The benchmark workloads.

Each workload is one closed-loop client. ``prepare`` makes the seeded
inputs (untimed, cached), ``setup`` loads the corpus and builds the
artifacts the requests need (timed as set-up), ``request`` issues request
``i`` and returns its answer, and ``check`` compares an answer with the
repo's independent oracles (untimed, after the loop).

Every call into an engine layer sits inside a tracer span named after the
layer; the loop around ``request`` owns the end-to-end clock.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback

import pandas as pd

import gen

#: tests/test_hybrid.py DELTA (the reference's DELTA_FOR_SCORE_ASSERTION)
SCORE_DELTA = 1e-3
TOPK = 10
HYBRID_DEPTH = 50
N_SHARDS = 8

LEXICAL_DOCS = 10_000

#: data-prep keys of __spark_entry__.queries(), at least one per pipeline/
#: module (params and sql are exercised through the keys and their oracles)
DATAPREP_KEYS = [
    "dedup_exact",  # dedup, params
    "text_unigram_ppl",  # textstats
    "text_decontaminate",  # decontam
    "text_embedding",  # embedding
    "events_json_prop",  # events
    "ann_cosine_topk",  # ann
    "mm_image_meta",  # multimodal
    "sample_stratified",  # training
    "pipeline_end_to_end",  # textstats + training (ends in pack_plan)
]


def topk_mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """The rank/tie rule of tests/test_hybrid.py: same doc set, every score
    within DELTA, and rank-identical wherever the scores at a rank differ by
    more than 2 * DELTA."""
    got_map, want_map = dict(got), dict(want)
    if set(got_map) != set(want_map):
        return f"doc set differs: got {sorted(got_map)} want {sorted(want_map)}"
    for d, s in got_map.items():
        if abs(s - want_map[d]) > SCORE_DELTA:
            return f"doc {d} score {s} want {want_map[d]}"
    for (gd, gs), (wd, ws) in zip(got, want):
        if gd != wd and abs(gs - ws) > 2 * SCORE_DELTA:
            return f"rank differs: got doc {gd} ({gs}) want doc {wd} ({ws})"
    return None


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["docID"]), float(r["score"])) for r in df.collect()]


def _docs_dict(pdf: pd.DataFrame, id_col: str, text_col: str) -> dict[int, str]:
    return dict(zip(pdf[id_col].astype(int).tolist(), pdf[text_col].tolist()))


class _OracleCache:
    """Oracle answers cached next to the generated inputs, keyed by
    request, so a repeated seed never recomputes them."""

    def __init__(self, path: str):
        self.path = path
        self.answers = gen.load_json(path) if os.path.exists(path) else {}
        self.dirty = False

    def get(self, key, compute):
        """``key`` must name everything the answer depends on (the request
        itself, not its position in the stream)."""
        k = json.dumps(key, sort_keys=True)
        if k not in self.answers:
            self.answers[k] = compute()
            self.dirty = True
        return self.answers[k]

    def save(self) -> None:
        if self.dirty:
            gen.save_json(self.path, self.answers)


class Workload:
    name = ""
    #: how many times set-up runs; setup_s reports the median
    setup_reps = 1
    #: requests issued before timing, from a stream of their own
    warmup_requests = 1

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def trace(self):
        return self.ctx.tracer

    def corpus_load(self, reader):
        with self.trace.span("corpus") as sp:
            df = reader()
            sp.exec()
            df.count()
        return df

    def warmup(self, state, inputs, j: int) -> None:
        pass

    def after_loop(self, state, inputs) -> None:
        pass

    def release(self, state) -> None:
        pass

    def summary(self, state) -> dict:
        return {}


# ---------------------------------------------------------------------------
# hybrid_sf01
# ---------------------------------------------------------------------------


class HybridSf01(Workload):
    """Set-up loads the sf0.1-shaped documents and caches a BM25 engine;
    requests are hybrid searches. A traced run then also makes one
    data-prep pass over DATAPREP_KEYS in seeded order on the same tables
    and checks it, so the ``pipeline`` layer is measured without a
    workload of its own (a pass costs 18-25 s on a 4-core host)."""

    name = "hybrid_sf01"
    setup_reps = 2
    warmup_requests = 2

    def prepare(self, seed: int) -> dict:
        sf_dir = gen.sf01_tables(seed)
        return {
            "sf_dir": sf_dir,
            "requests": gen.hybrid_requests(seed, 512),
            "warmup": gen.hybrid_requests(seed, self.warmup_requests, stream="hybrid_warmup"),
            "oracle": _OracleCache(os.path.join(sf_dir, "hybrid_oracle.json")),
            "dataprep_keys": dataprep_order(seed),
            "dataprep_oracle": _OracleCache(os.path.join(sf_dir, "dataprep_oracle.json")),
        }

    def after_loop(self, eng, inputs) -> None:
        answers = dataprep_pass(self, inputs["sf_dir"], inputs["dataprep_keys"])
        why = dataprep_check(inputs["sf_dir"], inputs["dataprep_oracle"], answers)
        inputs["dataprep_oracle"].save()
        if why:
            self.ctx.fail("data-prep pass", why)

    def setup(self, inputs):
        from neural_search_spark.corpus import corpus_from_documents
        from neural_search_spark.search.bm25 import BM25Engine

        corpus = self.corpus_load(lambda: corpus_from_documents(self.spark, inputs["sf_dir"]))
        with self.trace.span("setup.search.bm25") as sp:
            eng = BM25Engine(self.spark, corpus, text_col="content", id_col="docID").cache()
            sp.exec()
            eng.postings.count()
            _ = eng.stats
        return eng

    def warmup(self, eng, inputs, j: int) -> None:
        self._search(eng, inputs["warmup"][j])

    def release(self, eng) -> None:
        eng.postings.unpersist()
        eng.doclens.unpersist()

    def request(self, eng, inputs, i: int):
        return self._search(eng, inputs["requests"][i])

    def _search(self, eng, req: dict):
        from neural_search_spark.search.hybrid import hybrid_search

        with self.trace.span("search.bm25"):
            clauses = [eng.match(text) for text in req["clauses"]]
        with self.trace.span("search.hybrid") as sp:
            sp.extra.update(n_clauses=len(clauses), pair=f"{req['normalization']}/{req['combination']}")
            df = hybrid_search(
                clauses, req["normalization"], req["combination"], k=TOPK, depth=HYBRID_DEPTH
            )
            sp.exec()
            return _rows(df)

    def check(self, inputs, i: int, got) -> str | None:
        req = inputs["requests"][i]
        want = inputs["oracle"].get(req, lambda: self._oracle(inputs, req))
        return topk_mismatch(got, [tuple(x) for x in want])

    def _oracle(self, inputs, req) -> list:
        from neural_search_spark.analysis.tokenizer import tokenize_text
        from neural_search_spark.oracle import bm25 as obm

        if "index" not in inputs:
            docs = pd.read_parquet(os.path.join(inputs["sf_dir"], "documents.parquet"))
            inputs["index"] = obm.OracleIndex(_docs_dict(docs, "doc_id", "text"))
        normalize = {
            "min_max": obm.normalize_min_max,
            "l2": obm.normalize_l2,
            "z_score": obm.normalize_z_score,
            "rrf": obm.normalize_rrf,
        }[req["normalization"]]
        per = []
        for text in req["clauses"]:
            scores = inputs["index"].clause_scores(tokenize_text(text))
            cut = dict(sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:HYBRID_DEPTH])
            per.append(normalize(cut))
        combined = obm.combine(per, req["combination"])
        ranked = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(int(d), float(s)) for d, s in ranked[:TOPK]]


# ---------------------------------------------------------------------------
# lexical_code
# ---------------------------------------------------------------------------


def _oracle_counts(corpus: pd.DataFrame) -> dict:
    """The document and token counts an index of ``corpus`` must report."""
    from neural_search_spark.analysis.tokenizer import tokenize_text

    return {"n_docs": len(corpus), "total_tokens": sum(len(tokenize_text(t)) for t in corpus["content"])}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class LexicalCode(Workload):
    """Set-up builds the code corpus cold into a fresh directory and opens
    it; requests are block-max WAND top-k queries. A traced run then also
    brings the index to a seeded new state with one ``update_index`` sync
    (changed, added and removed docs), reopens it and checks one query
    against the new state. The write path costs a fixed 13-15 s on a 4-core
    host, so untraced runs leave it out to keep each run under a minute."""

    name = "lexical_code"
    warmup_requests = 5

    def prepare(self, seed: int) -> dict:
        base = gen.cache_path("code", seed, LEXICAL_DOCS)
        if not os.path.exists(base):
            tmp = f"{base}.tmp{os.getpid()}"
            os.makedirs(tmp)
            corpus = gen.code_corpus(seed, LEXICAL_DOCS)
            update = gen.code_update(seed, corpus)
            corpus.to_parquet(os.path.join(tmp, "corpus.parquet"), index=False)
            update["state"].to_parquet(os.path.join(tmp, "updated.parquet"), index=False)
            facts = {
                "content_bytes": int(corpus["content"].str.len().sum()),
                "counts": _oracle_counts(corpus),
                "updated_counts": _oracle_counts(update["state"]),
                "update": update["expect"],
            }
            gen.save_json(os.path.join(tmp, "facts.json"), facts)
            gen.publish(tmp, base)
        return {
            "corpus_path": os.path.join(base, "corpus.parquet"),
            "updated_path": os.path.join(base, "updated.parquet"),
            "facts": gen.load_json(os.path.join(base, "facts.json")),
            "queries": gen.lexical_queries(seed, 4096, LEXICAL_DOCS),
            "warmup": gen.lexical_queries(seed, self.warmup_requests, LEXICAL_DOCS, stream="lexical_warmup"),
            "oracle": _OracleCache(os.path.join(base, "oracle.json")),
        }

    def _open(self, out_dir: str):
        from neural_search_spark.search.wand import BlockMaxIndex

        with self.trace.span("search.wand.open") as sp:
            idx = BlockMaxIndex(self.spark, out_dir).cache()
            sp.exec()
            idx.postings.count()
            idx.doclens.count()
        return idx

    def setup(self, inputs):
        from neural_search_spark.index.builder import build_index

        corpus = self.corpus_load(lambda: self.spark.read.parquet(inputs["corpus_path"]))
        out_dir = self.ctx.fresh_dir("index")
        with self.trace.span("index.builder.build_index"):
            built = build_index(self.spark, corpus, out_dir, n_shards=N_SHARDS)
        self._expect("build_index summary", built, inputs["facts"]["counts"])
        stats = self._index_stats(out_dir, built, inputs["facts"]["content_bytes"])
        return {"dir": out_dir, "idx": self._open(out_dir), "stats": stats}

    def _expect(self, what: str, got: dict, want: dict) -> None:
        got = {k: got[k] for k in want}
        if got != want:
            self.ctx.fail(what, f"got {got} want {want}")

    def after_loop(self, state, inputs) -> None:
        """The traced run's write path: one sync update, reopen, one query
        checked against the new state."""
        from neural_search_spark.index.builder import update_index

        self.release(state, keep_dir=True)
        t0 = time.perf_counter()
        with self.trace.span("index.builder.update_index"):
            rows = self.spark.read.parquet(inputs["updated_path"])
            update = update_index(self.spark, rows, state["dir"], mode="sync")
        state["stats"]["update_s"] = time.perf_counter() - t0
        self._expect("update_index summary", update, inputs["facts"]["update"])
        state["idx"] = idx = self._open(state["dir"])
        self._expect("index stats after update", idx.stats, inputs["facts"]["updated_counts"])
        query = inputs["warmup"][0]
        why = topk_mismatch(self._query(idx, query), self._oracle_topk(inputs, "updated", query))
        if why:
            self.ctx.fail(f"query {query!r} after update", why)
        sizes = {
            r["shard"]: r["count"]
            for r in self.spark.read.parquet(os.path.join(state["dir"], "doclens")).groupBy("shard").count().collect()
        }
        touched = sum(sizes.get(s, 0) for s in update["shards"])
        useful = update["changed"] + update["added"] + update["removed"]
        state["stats"]["update_useful_ratio"] = useful / max(1, touched)

    def _index_stats(self, out_dir: str, built: dict, content: int) -> dict:
        from neural_search_spark.index.builder import read_manifest

        postings = sum(e["rows"] for e in read_manifest(out_dir) if e["stage"] == "postings")
        return {
            "build_postings_per_s": postings / built["build_wall_s"],
            "index_bytes_per_content_byte": _dir_bytes(out_dir) / content,
            "index.bytes_per_posting": _dir_bytes(os.path.join(out_dir, "postings")) / postings,
        }

    def warmup(self, state, inputs, j: int) -> None:
        self._query(state["idx"], inputs["warmup"][j])

    def release(self, state, keep_dir: bool = False) -> None:
        state["idx"].postings.unpersist()
        state["idx"].doclens.unpersist()
        if not keep_dir:
            shutil.rmtree(state["dir"], ignore_errors=True)

    def _query(self, idx, text: str):
        with self.trace.span("search.wand") as sp:
            df = idx.match_topk(text, k=TOPK)
            sp.exec()
            rows = _rows(df)
            sp.extra.update(hits=len(rows))
            return rows

    def request(self, state, inputs, i: int):
        return self._query(state["idx"], inputs["queries"][i])

    def _oracle_topk(self, inputs, state: str, text: str) -> list[tuple[int, float]]:
        from neural_search_spark.analysis.tokenizer import tokenize_text
        from neural_search_spark.oracle.bm25 import OracleIndex

        def compute():
            if state not in inputs:
                path = inputs["corpus_path" if state == "base" else "updated_path"]
                inputs[state] = OracleIndex(_docs_dict(pd.read_parquet(path), "docID", "content"))
            return inputs[state].topk(tokenize_text(text), TOPK)

        return [tuple(x) for x in inputs["oracle"].get([state, text], compute)]

    def check(self, inputs, i: int, got) -> str | None:
        return topk_mismatch(got, self._oracle_topk(inputs, "base", inputs["queries"][i]))

    def summary(self, state) -> dict:
        return state["stats"]


# ---------------------------------------------------------------------------
# the data-prep pass (pipeline layer)
# ---------------------------------------------------------------------------


def dataprep_order(seed: int) -> list[str]:
    order = gen.seeded_rng(seed, "dataprep_order").permutation(len(DATAPREP_KEYS))
    return [DATAPREP_KEYS[j] for j in order.tolist()]


def dataprep_pass(wl: Workload, sf_dir: str, keys: list[str]) -> list[dict]:
    """One pass over ``keys``, each key's DataFrame built and collected in
    its own ``pipeline`` span."""
    import __spark_entry__ as entry

    queries = entry.queries()
    out = []
    for key in keys:
        with wl.trace.span("pipeline") as sp:
            sp.extra.update(key=key)
            try:
                df = queries[key](wl.spark, sf_dir)
                sp.exec()
                rows = [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - one failed key must not end the pass
                out.append({"key": key, "error": traceback.format_exc(limit=3)})
                continue
        out.append({"key": key, "cols": [c.lower() for c in df.columns], "rows": rows})
    return out


def dataprep_check(sf_dir: str, oracle: _OracleCache, got: list[dict]) -> str | None:
    """Each key against its DuckDB ``oracle_sql()`` twin, by row count,
    column names and ``tools/check_oracle.value_hash``."""
    import __spark_entry__ as entry
    from tools.check_oracle import value_hash

    sqls = entry.oracle_sql()
    con = None
    bad = []
    for ans in got:
        if "error" in ans:
            bad.append(f"{ans['key']} raised: {ans['error'].strip()}")
            continue
        sql = sqls[ans["key"]]

        def compute(sql=sql):
            nonlocal con
            if con is None:
                con = _duckdb_tables(sf_dir)
            res = con.execute(sql)
            cols = [d[0].lower() for d in res.description]
            rows = res.fetchall()
            return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(cols, rows)}

        want = oracle.get(sql, compute)
        have = {"rows": len(ans["rows"]), "cols": sorted(ans["cols"]), "hash": value_hash(ans["cols"], ans["rows"])}
        if have != want:
            bad.append(
                f"{ans['key']}: rows {have['rows']}/{want['rows']} "
                f"cols {have['cols'] == want['cols']} hash {have['hash'] == want['hash']}"
            )
    if con is not None:
        con.close()
    return "; ".join(bad) or None


def _duckdb_tables(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for table in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(sf_dir, table)}.parquet'")
    return con


WORKLOADS = {w.name: w for w in (HybridSf01, LexicalCode)}
