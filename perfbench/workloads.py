"""The two workloads: the job each one times, its traced form, and the
checks on its output.

Every job drives the package only through the public functions that
``jobs/run_kg.py`` and ``jobs/run_admit.py`` call. An op is one timed
unit of work: one whole ``build_kg`` + ``materialize_kg`` job for
``kg_pages``, one batch admission for ``admit``. Op ``k`` writes its
output under ``root/k``.

The traced form makes the same calls and pins each layer's output
inside a span, so each layer's cost lands in its own span. Its outputs
are checked against the untraced ones.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

# input sizes
KG_PAGES = 800      # 8 long pages: one in each of the 8 input files
ADMIT_BATCHES = 3
ADMIT_DOCS = 800


def _read(path: str):
    return pq.read_table(path).to_pylist()


def _rows_digest(rows, cols) -> str:
    key = sorted(tuple(r[c] for c in cols) for r in rows)
    return hashlib.sha256(repr(key).encode()).hexdigest()


def _table_digest(path: str, cols) -> str:
    """Order-insensitive digest of a Parquet table (partition columns
    read back as plain values)."""
    t = pq.read_table(path, columns=cols)
    t = pa.table({c: t[c].cast(t[c].type.value_type)
                  if pa.types.is_dictionary(t[c].type) else t[c]
                  for c in cols})
    t = t.sort_by([(c, "ascending") for c in cols]).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _dir_size(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
                files += 1
    return total, files


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _out(root, k) -> str:
    return os.path.join(root, str(k))


def _pin(df):
    """Persist and materialize: the traced form's layer barrier."""
    df = df.persist()
    return df, df.count()


class Workload:
    name = ""

    def pass_ops(self, inputs) -> int:
        """Ops in one pass over the input."""
        return 1

    def generate(self, seed: int, work_dir: str) -> gen.Inputs:
        raise NotImplementedError

    def items_per_op(self, inputs: gen.Inputs) -> int:
        raise NotImplementedError

    def op(self, spark, inputs, root: str, k: int) -> float:
        """Run op ``k``; returns its seconds."""
        raise NotImplementedError

    def traced(self, spark, inputs, root: str, k: int, tr) -> dict:
        """One pass starting at op ``k``, its layers in spans; returns
        counters."""
        raise NotImplementedError

    def check(self, spark, inputs, root: str, ks: list,
              retry: bool) -> dict:
        """Checks the output of ops ``ks``; returns {op: [failures]}.
        ``retry`` adds the checks that run the program again."""
        raise NotImplementedError


# ---------------------------------------------------------------- KG --

MENTION_COLS = ["doc_id", "m_start", "m_end", "m_text", "label", "prob"]
TRIPLE_COLS = ["doc_id", "subj", "subj_label", "subj_start", "pred", "obj",
               "obj_label", "obj_start", "prob"]
NODE_COLS = ["entity_id", "canonical", "label", "n_mentions", "n_surfaces"]
EDGE_COLS = ["src_entity", "dst_entity", "pred", "support", "weight"]


def _linking(mentions, tr, out: dict):
    """The linking steps of ``build_kg`` one operator at a time, each in
    its own span: hot-key probe → surfaces → LSH links → entities.
    Fills ``out`` with the layer counters; returns the surfaces."""
    from gliner_spark.config import PipelineConfig
    from gliner_spark.operators.canonicalize import (canonical_entities,
                                                     nodes_table)
    from gliner_spark.operators.linking import (entity_surfaces, lsh_links,
                                                surface_key)
    from gliner_spark.operators.skew import hot_keys

    cfg = PipelineConfig()
    with tr.span("operators.skew.hot_keys"):
        fired = bool(hot_keys(mentions.select(surface_key().alias("sk")),
                              "sk", cfg.hot_key_threshold).take(1))
    salt = cfg.salt_buckets if fired else 0
    with tr.span("operators.linking.surfaces"):
        surfaces, n_surf = _pin(entity_surfaces(mentions, salt_buckets=salt))
    with tr.span("operators.linking.lsh_links"):
        links, n_links = _pin(lsh_links(
            surfaces, k=cfg.shingle_k, n_perms=cfg.minhash_perms,
            bands=cfg.lsh_bands * 2))
    with tr.span("operators.canonicalize"):
        entities, _ = _pin(canonical_entities(surfaces, links,
                                              cfg.cc_max_iters))
        _, n_nodes = _pin(nodes_table(entities))
    out.update({"operators.linking.surfaces": n_surf,
                "operators.linking.salted": int(fired),
                "operators.linking.links": n_links,
                "operators.canonicalize.nodes": n_nodes})
    return surfaces


def _dropped_buckets(surfaces) -> int:
    from gliner_spark.config import PipelineConfig
    from gliner_spark.operators.linking import lsh_dropped_buckets

    cfg = PipelineConfig()
    return lsh_dropped_buckets(surfaces, k=cfg.shingle_k,
                               n_perms=cfg.minhash_perms,
                               bands=cfg.lsh_bands * 2)


def _ner_mentions(ids, spans_all) -> Counter:
    """Mention rows, as the NER operator emits them, of per-document
    spans."""
    return Counter((doc_id, s, e, txt, lab, round(float(p), 4))
                   for doc_id, spans in zip(ids, spans_all)
                   for s, e, txt, lab, p in spans)


def _oracle_triples(doc_id, spans, rules, window):
    """``relations_for_doc`` over one document, fed one window-wide block
    of subjects at a time: a qualifying object starts in the subject's
    block or the next one, so this keeps its output while avoiding the
    all-pairs loop on pages with thousands of mentions."""
    from gliner_spark.operators.ner_fused import relations_for_doc

    blocks: dict = {}
    for s in spans:
        blocks.setdefault(s[0] // window, []).append(s)
    out = []
    for b, subj in blocks.items():
        for rel in relations_for_doc(subj + blocks.get(b + 1, []), rules,
                                     window):
            if rel[2] // window == b:
                out.append((doc_id, *rel))
    return out


class KgPages(Workload):
    """pages → KG tables: ``build_kg`` + ``materialize_kg``, as run_kg.
    Op 0 gets the full check; every later op must write the same
    tables."""

    name = "kg_pages"

    def generate(self, seed, work_dir):
        return gen.gen_pages(seed, self.name, work_dir, KG_PAGES,
                             long_words=(2000, 2400))

    def items_per_op(self, inputs):
        return inputs.sizes["pages"]

    def op(self, spark, inputs, root, k):
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.operators.sinks import materialize_kg
        from gliner_spark.plans.kg import build_kg

        def job():
            pages = spark.read.parquet(inputs.paths["pages"])
            materialize_kg(build_kg(pages, ALL_LABELS), _out(root, k))
        return _timed(job)

    def traced(self, spark, inputs, root, k, tr):
        """``build_kg``'s own result, pinned table by table; the linking
        operators run once more on their own for their sub-spans."""
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.operators.sinks import materialize_kg
        from gliner_spark.plans.kg import build_kg

        out: dict = {}
        with tr.span("plans.kg"):
            pages = spark.read.parquet(inputs.paths["pages"])
            # build_kg persists the mentions and runs its hot-key probe
            # over them when called, so the NER work starts in this span
            with tr.span("operators.ner"):
                kg = build_kg(pages, ALL_LABELS)
                out["operators.ner.mentions"] = kg.mentions.count()
            with tr.span("operators.relations"):
                _, out["operators.relations.triples"] = _pin(kg.triples)
            surfaces = _linking(kg.mentions, tr, out)
            with tr.span("plans.kg.nodes"):
                _pin(kg.nodes)
            with tr.span("plans.kg.edges"):
                _pin(kg.edges)
            with tr.span("operators.sinks"):
                materialize_kg(kg, _out(root, k))
        out["operators.linking.dropped_buckets"] = _dropped_buckets(surfaces)
        return out

    def output_digest(self, out_dir):
        return "".join(_table_digest(os.path.join(out_dir, name), cols)
                       for name, cols in (("mentions", MENTION_COLS),
                                          ("triples", TRIPLE_COLS),
                                          ("nodes", NODE_COLS),
                                          ("edges", EDGE_COLS)))

    def check(self, spark, inputs, root, ks, retry):
        fails = {ks[0]: self.full_check(inputs, _out(root, ks[0]))}
        ref = self.output_digest(_out(root, ks[0]))
        for k in ks[1:]:
            if self.output_digest(_out(root, k)) != ref:
                fails[k] = [f"op {k} output differs from op {ks[0]}"]
        return fails

    def full_check(self, inputs, out_dir):
        """Mentions and triples against the single-process composition
        ``ner_documents`` + ``relations_for_doc``; nodes and edges must
        account for every mention and triple."""
        from gliner_spark.config import GlinerConfig, PipelineConfig
        from gliner_spark.kernels.pipeline import ner_documents
        from gliner_spark.kernels.scorer import ALL_LABELS, SurrogateScorer
        from gliner_spark.operators.relations import DEFAULT_RULES

        t = pq.read_table(inputs.paths["pages"], columns=["url", "text"])
        ids, texts = t["url"].to_pylist(), t["text"].to_pylist()
        rules = {(s, o): p for s, o, p in DEFAULT_RULES}
        window = PipelineConfig().relation_window * 4
        cfg = GlinerConfig()
        spans_all = ner_documents(texts, ALL_LABELS,
                                  SurrogateScorer(cfg.max_width), cfg)
        want_m = _ner_mentions(ids, spans_all)
        want_t = Counter()
        for doc_id, spans in zip(ids, spans_all):
            want_t.update(_oracle_triples(doc_id, spans, rules, window))
        got_m = Counter(tuple(r[c] for c in MENTION_COLS)
                        for r in _read(os.path.join(out_dir, "mentions")))
        got_t = Counter(tuple(r[c] for c in TRIPLE_COLS)
                        for r in _read(os.path.join(out_dir, "triples")))
        n_m, n_t = sum(got_m.values()), sum(got_t.values())
        fails = []
        if got_m != want_m:
            fails.append(f"mentions differ from ner_documents: {n_m} vs "
                         f"{sum(want_m.values())}")
        if got_t != want_t:
            fails.append(f"triples differ from relations_for_doc: {n_t} vs "
                         f"{sum(want_t.values())}")
        node_m = sum(r["n_mentions"]
                     for r in _read(os.path.join(out_dir, "nodes")))
        if node_m != n_m:
            fails.append(f"sum of node n_mentions {node_m} != mentions {n_m}")
        support = sum(r["support"]
                      for r in _read(os.path.join(out_dir, "edges")))
        if support != n_t:
            fails.append(f"sum of edge support {support} != triples {n_t}")
        return fails


# ---------------------------------------------------------- admission --

class Admit(Workload):
    """A crawl stream admitted batch by batch with ``dedup_admit_batch``,
    as run_admit. Op k admits batch k % B into store k // B: each pass
    over the B batches starts from a fresh store."""

    name = "admit"

    def generate(self, seed, work_dir):
        return gen.gen_crawl(seed, self.name, work_dir, ADMIT_BATCHES,
                             ADMIT_DOCS)

    def items_per_op(self, inputs):
        return inputs.sizes["docs"] // inputs.sizes["batches"]

    def pass_ops(self, inputs):
        return len(inputs.paths["batches"])

    @staticmethod
    def _paths(inputs, root, k):
        seq, b = divmod(k, len(inputs.paths["batches"]))
        return (inputs.paths["batches"][b],
                os.path.join(root, f"store-{seq}"),
                os.path.join(root, f"verdicts-{seq}-{b}"))

    @staticmethod
    def _admit(spark, batch, store, verdicts):
        from gliner_spark.plans.incremental import dedup_admit_batch

        v = dedup_admit_batch(spark.read.parquet(batch), store)
        v.write.mode("overwrite").parquet(verdicts)

    def op(self, spark, inputs, root, k):
        return _timed(lambda: self._admit(spark,
                                          *self._paths(inputs, root, k)))

    def traced(self, spark, inputs, root, k, tr):
        """One whole pass over the B batches, starting at op ``k``. Each
        batch is admitted as the untraced op admits it; the signature
        step then runs once more on its own, after the admission, for
        its span."""
        from gliner_spark.plans.incremental import batch_minhash_signatures

        n = len(inputs.paths["batches"])
        assert k % n == 0
        spans = []
        with tr.span("plans.incremental"):
            for j in range(k, k + n):
                batch, store, verdicts = self._paths(inputs, root, j)
                with tr.span("plans.incremental.batch") as sp:
                    self._admit(spark, batch, store, verdicts)
                spans.append(sp["end"] - sp["start"])
                with tr.span("plans.incremental.signatures"):
                    sig, _ = _pin(batch_minhash_signatures(
                        spark.read.parquet(batch)))
                    sig.unpersist()
        rows = pq.read_table(store, columns=["doc_id"]).num_rows
        vs_old = vs_new = 0
        for j in range(k, k + n):
            b = j % n
            for r in _read(self._paths(inputs, root, j)[2]):
                if r["dup_of"] is not None:
                    if r["dup_of"] // 1_000_000 < b:
                        vs_old += 1
                    else:
                        vs_new += 1
        return {"plans.incremental.batch_first_s": spans[0],
                "plans.incremental.batch_last_s": spans[-1],
                "store.rows": rows,
                "store.bytes_per_doc": _dir_size(store)[0] / max(rows, 1),
                "dups.vs_old": vs_old, "dups.vs_new": vs_new}

    def check(self, spark, inputs, root, ks, retry):
        """Per pass over the batches: one verdict per doc, every dup_of a
        keeper, every planted copy suppressed, store rows equal to the
        keepers. Every op must give the verdicts of the same batch in
        the first pass. With ``retry``, admitting the last op's batch
        again must change neither its verdicts nor the store."""
        from gliner_spark.plans.incremental import dedup_admit_batch

        cols = ["doc_id", "dup_of", "keep"]
        n = len(inputs.paths["batches"])
        planted = set(inputs.extra["planted"])
        fails: dict = {}
        ref: dict = {}
        keepers: dict = {}
        for k in sorted(ks):
            batch, store, verdicts = self._paths(inputs, root, k)
            docs = set(pq.read_table(batch, columns=["doc_id"])["doc_id"]
                       .to_pylist())
            v = _read(verdicts)
            kept = keepers.get(store, (set(), k))[0]
            kept |= {r["doc_id"] for r in v if r["keep"]}
            keepers[store] = (kept, k)
            f = []
            if len(v) != len(docs) or {r["doc_id"] for r in v} != docs:
                f.append("not one verdict per doc")
            if any(r["dup_of"] is not None and r["dup_of"] not in kept
                   for r in v):
                f.append("a dup_of that is not a keeper")
            if planted & {r["doc_id"] for r in v if r["keep"]}:
                f.append("a planted copy was admitted")
            ref.setdefault(k % n, _rows_digest(v, cols))
            if _rows_digest(v, cols) != ref[k % n]:
                f.append("verdicts differ from the first pass")
            if f:
                fails[k] = f
        for store, (kept, k) in keepers.items():
            rows = pq.read_table(store, columns=["doc_id"]).num_rows
            if rows != len(kept):
                fails.setdefault(k, []).append(
                    f"{rows} store rows != {len(kept)} keepers")
        if not retry:
            return fails
        last = max(ks)
        batch, store, verdicts = self._paths(inputs, root, last)
        rows = pq.read_table(store, columns=["doc_id"]).num_rows
        again = dedup_admit_batch(spark.read.parquet(batch), store).collect()
        if (_rows_digest([r.asDict() for r in again], cols)
                != _rows_digest(_read(verdicts), cols)
                or pq.read_table(store, columns=["doc_id"]).num_rows != rows):
            fails.setdefault(last, []).append(
                "re-admitting a batch changed its verdicts or the store")
        return fails


WORKLOADS = {w.name: w for w in (KgPages(), Admit())}
