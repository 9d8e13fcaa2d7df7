"""The benchmark's workloads: seeded inputs, an oracle computed outside
the code under test, the untraced run through the public entry point,
the traced run that calls each layer in the pipeline's own order, and
a traced-only extra phase (``traced_extra``): the codekg append, and
the near-duplicate queries.

Every workload writes its inputs as parquet under its work directory;
the program under test only ever sees those files (and, in the append
phase, the generated alias dictionary it is handed as ``alias_rows``).
"""

from __future__ import annotations

import json
import os
import random
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.trace import files_under, python_nodes


class Mismatch(Exception):
    """A run's output disagrees with its oracle."""


def _fetch(sql: str, setup: str = "") -> list[tuple]:
    # spill inside the work directory, like Spark (see run.launch_settings)
    con = duckdb.connect(config={"temp_directory": os.environ["TMPDIR"]})
    try:
        if setup:
            con.execute(setup)
        return con.sql(sql).fetchall()
    finally:
        con.close()


def _stage_dir(out: str, stage: str) -> str:
    return os.path.join(out, stage, "data")


def _write(rows: list[dict], cols: tuple, path: str) -> None:
    pq.write_table(pa.table({c: [r[c] for r in rows] for c in cols}), path)


class Workload:
    """One workload at one seed. ``scale`` multiplies the input sizes
    (the self-tests run at a tiny scale). Subclasses provide
    ``make_inputs``, ``make_oracle``, ``run``, ``check``, ``traced`` and
    ``traced_extra``; ``run`` and ``traced`` return ``{"rows": result
    rows, "stages": {stage: rows}}``."""

    name = ""
    n_docs = 0
    STAGES: tuple = ()

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.n = max(20, int(self.n_docs * scale))
        os.makedirs(work, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def resume(self, spark, out: str) -> None:
        """Re-run unchanged over the committed warehouse ``out``; every
        stage must resume. A stage the re-run rebuilt carries its run id."""
        self.run(spark, out, run_id="resume")
        for stage in self.STAGES:
            with open(os.path.join(out, stage, "_MANIFEST.json"), encoding="utf-8") as fh:
                if json.load(fh).get("run_id") == "resume":
                    raise Mismatch(f"stage {stage} was rebuilt by an unchanged re-run")


# ------------------------------------------------------------- codekg


DIGEST = (
    "SELECT count(*) AS n, sum(hash(subj, pred, obj, doc_id, repo, lang, "
    "content_sha, round(conf, 6)))::VARCHAR AS h FROM ({rel})"
)


def codekg_oracle(src_parquet: str) -> tuple:
    """(count, order-independent digest) of the DuckDB twin of the whole
    codekg pipeline with the default alias dictionary, pointed at
    ``src_parquet``."""
    import __spark_entry__ as entry

    saved = entry._REPOS_FIXTURE
    entry._REPOS_FIXTURE = src_parquet
    try:
        sql = entry._codekg_triples_sql()
    finally:
        entry._REPOS_FIXTURE = saved
    return _fetch(DIGEST.format(rel=sql))[0]


def check_codekg_triples(out: str, expected: tuple) -> None:
    rel = (
        f"SELECT * FROM read_parquet('{_stage_dir(out, 'triples')}/**/*.parquet', "
        "hive_partitioning = true)"
    )
    got = _fetch(DIGEST.format(rel=rel))[0]
    if got != expected:
        raise Mismatch(f"triples (count, digest) {got} != oracle {expected}")


SYNTH = "zq"  # prefix of generated alias names; no corpus identifier has it


def deep_alias_rows(seed: int, min_rows: int) -> tuple[list, dict]:
    """The default 21-row alias dictionary plus generated chains
    ``n0 -> n1 -> ... -> nd`` (rows ``(n_j, n_j+1)`` and the canonical
    self-row ``(nd, nd)``), depth ``d`` uniform in 1..12, until there are
    at least ``min_rows`` rows.

    Two properties keep ``cc.connected_components`` off its driver path
    and past min-label: the symmetric edge set it builds (both
    directions, distinct) exceeds its 50,000-edge driver threshold, and
    chains deeper than 6 do not converge in min-label's 6 rounds, so it
    falls back to large-star/small-star. The names live in a namespace
    (``zq<chain>v<pos>``) no corpus identifier falls in, so they add
    graph for CC without changing any triple.

    Returns the rows and, per generated surface, its expected
    ``(entity_id, canonical)``: the chain's smallest name, and the
    smallest canonical-column value in the chain."""
    from structured_data_entity_extraction_spark.codekg import default_code_alias_rows

    rng = random.Random(seed)
    rows = list(default_code_alias_rows())
    nodes: dict = {}
    k = 0
    while len(rows) < min_rows:
        d = rng.randint(1, 12)
        names = [f"{SYNTH}{k:06d}v{j}" for j in range(d + 1)]
        k += 1
        chain = [(names[j], names[j + 1]) for j in range(d)] + [(names[-1], names[-1])]
        rows += chain
        entity, canonical = min(names), min(c for _, c in chain)
        nodes.update((n, (entity, canonical)) for n in names)
    sym = {(a, b) for a, b in rows} | {(b, a) for a, b in rows}
    if len(sym) <= 50_000:
        raise ValueError(f"{len(sym)} symmetric edges would keep CC on the driver path")
    return rows, nodes


class CodekgBuild(Workload):
    """``run_codekg_pipeline`` into a fresh warehouse over a Zipf-skewed
    repos_src corpus with the default alias dictionary. Its traced run
    adds the append phase (``traced_extra``)."""

    name = "codekg_build"
    n_docs = 400
    content_scale = 5
    batch_docs = 40
    alias_rows = 28_000
    STAGES = ("mentions", "candidates", "edges", "nodes", "triples")
    SRC_COLS = ("repo", "path", "commit", "lang", "content")

    def make_inputs(self) -> None:
        from structured_data_entity_extraction_spark.fixtures import repos_src_rows

        n_batch = max(5, int(self.batch_docs * self.scale))
        rows = repos_src_rows(self.n + n_batch, seed=self.seed, content_scale=self.content_scale)
        if len({(r["repo"], r["path"], r["commit"]) for r in rows}) != len(rows):
            raise ValueError("repos_src rows must have distinct doc ids")
        _write(rows[: self.n], self.SRC_COLS, self.path("repos_src.parquet"))
        # the append phase's batch, and base + batch for its oracle
        if any(re.search(SYNTH + r"\d{6}v", r["content"]) for r in rows):
            raise ValueError("a generated alias name occurs in the corpus")
        _write(rows[self.n :], self.SRC_COLS, self.path("batch.parquet"))
        _write(rows, self.SRC_COLS, self.path("all.parquet"))

    def make_oracle(self) -> None:
        self.expected = codekg_oracle(self.path("repos_src.parquet"))

    def _src(self, spark):
        return spark.read.parquet(self.path("repos_src.parquet"))

    def run(self, spark, out: str, run_id: str = "run0") -> dict:
        from structured_data_entity_extraction_spark.pipeline import run_codekg_pipeline

        m = run_codekg_pipeline(spark, self._src(spark), out, run_id=run_id)
        return {"rows": m["triples"], "stages": {s: m["stages"][s]["rows"] for s in self.STAGES}}

    def check(self, out: str, info: dict) -> None:
        check_codekg_triples(out, self.expected)

    def traced(self, spark, out: str, tr) -> dict:
        """run_codekg_pipeline's stage sequence, one span per layer."""
        from structured_data_entity_extraction_spark import codekg
        from structured_data_entity_extraction_spark.cc import connected_components
        from structured_data_entity_extraction_spark.materialize import (
            StageStore,
            sha_invariant_report,
        )
        from structured_data_entity_extraction_spark.pipeline import input_identity

        src = self._src(spark)
        store = StageStore(out, run_id="traced")
        part = ["repo_bucket", "lang"]

        def stage(layer, name, df, partition_by=None):
            with tr.span(layer) as rec:
                got = store.run_stage(spark, name, lambda: df, partition_by)
                rec["rows_out"] = store.manifest(name)["rows"]
                rec["files_written"] = files_under(_stage_dir(out, name))
            return got, rec

        def verify(df):
            with tr.span("materialize.verify") as rec:
                rep = sha_invariant_report(df, pairs, digest)
                rec["rows_out"] = 1
            if not rep["sha_invariant_ok"]:
                raise Mismatch(f"sha invariant broken: {rep}")

        with tr.span("pipeline.input_identity") as rec:
            pairs, digest = input_identity(src)
            pairs = pairs.persist()
            rec["rows_out"] = store.input_docs = pairs.count()
        store.input_digest = digest
        alias_dim = codekg.code_alias_dim(spark)

        df = codekg.extract_code_mentions(src)
        n_python = python_nodes(df)
        mentions, rec = stage("codekg.extract", "mentions", df, part)
        rec["python_nodes"] = n_python
        with tr.span("pipeline.input_identity"):
            store.begin_append(["_input_pairs"])
            store.write_input_pairs(pairs)
            store.end_append()
        verify(mentions)

        candidates, rec = stage(
            "codekg.link", "candidates", codekg.link_mentions(mentions, alias_dim), part
        )
        lsh, unlinked, n_cand = _fetch(
            "SELECT count(*) FILTER (method = 'lsh'), count(*) FILTER (canonical IS NULL), "
            f"count(*) FROM read_parquet('{_stage_dir(out, 'candidates')}/**/*.parquet')"
        )[0]
        rec["lsh_share"] = lsh / n_cand
        rec["unlinked_share"] = unlinked / n_cand
        verify(candidates)

        edges, _ = stage("codekg.edges", "edges", codekg.link_edges(candidates, alias_dim))
        nodes, cc_rec = stage("cc", "nodes", codekg.canonicalize(candidates, alias_dim, edges))
        triples, rec = stage(
            "codekg.fold", "triples", codekg.build_triples(candidates, nodes), part
        )
        rec["dedup_ratio"] = rec["rows_out"] / n_cand
        verify(triples)
        pairs.unpersist()

        # which CC path the canonicalize call took, from one stats call
        # on the same edges, outside every span
        st: dict = {}
        connected_components(edges.select("src", "dst"), stats=st)
        cc_rec["distributed"] = int(st["method"] != "driver")
        return {
            "rows": store.manifest("triples")["rows"],
            "stages": {s: store.manifest(s)["rows"] for s in self.STAGES},
        }

    def traced_extra(self, spark, out: str, tr) -> None:
        """The append phase: ``run_codekg_pipeline_incremental``'s
        sequence over the committed traced warehouse, one span per
        layer. The batch comes with a grown dictionary, the default rows
        plus ``deep_alias_rows`` chains, which sends the rebuild's CC
        off the driver path. Checked against the twin over base + batch
        (the generated names link no mention, so they change no triple)
        and against each generated chain's expected component."""
        from structured_data_entity_extraction_spark import codekg
        from structured_data_entity_extraction_spark.cc import connected_components
        from structured_data_entity_extraction_spark.materialize import StageStore
        from structured_data_entity_extraction_spark.pipeline import append_repos_batch

        alias, synthetic = deep_alias_rows(self.seed, self.alias_rows)
        expected = codekg_oracle(self.path("all.parquet"))
        store = StageStore(out, run_id="inc0")
        batch = spark.read.parquet(self.path("batch.parquet"))
        with tr.span("pipeline.append") as rec:
            m = append_repos_batch(spark, store, batch, alias_rows=alias)
            rec["rows_out"] = m["stages"]["candidates"]["appended_rows"]
        alias_dim = codekg.code_alias_dim(spark, alias)
        candidates = store.read(spark, "candidates")

        def stage(layer, name, build, partition_by=None):
            with tr.span(layer) as rec:
                got = store.run_stage(spark, name, build, partition_by)
                rec["rows_out"] = store.manifest(name)["rows"]
            return got, rec

        edges, _ = stage("append.edges", "edges", lambda: codekg.link_edges(candidates, alias_dim))
        nodes, cc_rec = stage("append.cc", "nodes",
                              lambda: codekg.canonicalize(candidates, alias_dim, edges))
        stage("append.fold", "triples", lambda: codekg.build_triples(candidates, nodes),
              ["repo_bucket", "lang"])
        st: dict = {}
        connected_components(edges.select("src", "dst"), stats=st)
        cc_rec.update(distributed=int(st["method"] != "driver"), rounds=st["rounds"],
                      edges=store.manifest("edges")["rows"])

        check_codekg_triples(out, expected)
        got = _fetch(
            "SELECT surface, entity_id, canonical FROM "
            f"read_parquet('{_stage_dir(out, 'nodes')}/**/*.parquet') "
            f"WHERE surface LIKE '{SYNTH}%'"
        )
        bad = [r for r in got if synthetic.get(r[0]) != (r[1], r[2])]
        if bad or len(got) != len(synthetic):
            raise Mismatch(f"{len(got)} generated alias nodes, {len(synthetic)} expected; "
                           f"{len(bad)} in a wrong component, e.g. {bad[:3]}")


# ------------------------------------------------------------- avaluo


class AvaluoBuild(Workload):
    """``run_avaluo_pipeline`` into a fresh warehouse over the OCR-style
    appraisal corpus."""

    name = "avaluo_build"
    n_docs = 1000
    STAGES = ("records", "triples")

    def make_inputs(self) -> None:
        from structured_data_entity_extraction_spark.fixtures import avaluo_docs

        self.docs = avaluo_docs(self.n, seed=self.seed)
        _write(self.docs, ("doc_id", "text"), self.path("docs.parquet"))

    def make_oracle(self) -> None:
        """The pure-Python reference record per document."""
        from structured_data_entity_extraction_spark.refsem import extract_record

        self.expected = {
            (d["doc_id"], pred): obj
            for d in self.docs
            for pred, obj in extract_record(d["text"]).items()
        }

    def run(self, spark, out: str, run_id: str = "run0") -> dict:
        from structured_data_entity_extraction_spark.pipeline import run_avaluo_pipeline

        docs = spark.read.parquet(self.path("docs.parquet"))
        m = run_avaluo_pipeline(spark, docs, out, run_id=run_id)
        return {"rows": m["triples"], "stages": {s: m["stages"][s]["rows"] for s in self.STAGES}}

    def check(self, out: str, info: dict) -> None:
        """Every doc yields all 13 predicates, and precision and recall
        against the reference are at least 0.95 (``triples.precision_recall``
        semantics: an empty object means "no value emitted")."""
        got = pq.read_table(_stage_dir(out, "triples"), columns=["doc_id", "pred", "obj"]).to_pydict()
        if len(got["doc_id"]) != len(self.expected):
            raise Mismatch(f"{len(got['doc_id'])} triples, reference has {len(self.expected)}")
        engine = {
            (d, p): o for d, p, o in zip(got["doc_id"], got["pred"], got["obj"]) if o
        }
        ref = {k: o for k, o in self.expected.items() if o}
        tp = sum(1 for k, o in engine.items() if ref.get(k) == o)
        precision = tp / len(engine) if engine else 1.0
        recall = tp / len(ref) if ref else 1.0
        if precision < 0.95 or recall < 0.95:
            raise Mismatch(f"precision {precision:.4f} recall {recall:.4f} < 0.95")

    def traced(self, spark, out: str, tr) -> dict:
        """run_avaluo_pipeline's sequence with avaluo_records opened up
        into its extract, resolve, parse and assemble calls. Each layer
        is materialized so it can be timed on its own."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from structured_data_entity_extraction_spark.extract import extract_stage
        from structured_data_entity_extraction_spark.link import (
            assemble_record,
            dim_frames,
            first_parsed,
            parse_mentions,
            resolve_estado,
            resolve_municipio,
        )
        from structured_data_entity_extraction_spark.materialize import (
            StageStore,
            doc_sha_digest,
            doc_sha_pairs,
            sha_invariant_report,
        )
        from structured_data_entity_extraction_spark.triples import records_to_triples

        docs = spark.read.parquet(self.path("docs.parquet"))
        store = StageStore(out, run_id="traced")
        dims = dim_frames(spark)

        def cached(layer, df):
            n = python_nodes(df)
            with tr.span(layer) as rec:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                rec["rows_out"] = df.count()
            rec["python_nodes"] = n
            return df

        def stage(layer, name, df):
            with tr.span(layer) as rec:
                got = store.run_stage(spark, name, lambda: df)
                rec["rows_out"] = store.manifest(name)["rows"]
                rec["files_written"] = files_under(_stage_dir(out, name))
            with tr.span("materialize.verify") as rec:
                rep = sha_invariant_report(got, pairs, digest)
                rec["rows_out"] = 1
            if not rep["sha_invariant_ok"]:
                raise Mismatch(f"sha invariant broken at {name}: {rep}")
            return got

        with tr.span("pipeline.input_identity") as rec:
            keyed = docs.select(
                "doc_id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("content_sha")
            )
            pairs = doc_sha_pairs(keyed).persist()
            digest = doc_sha_digest(keyed)
            rec["rows_out"] = store.input_docs = pairs.count()
        store.input_digest = digest

        extracted = cached("extract", extract_stage(docs))
        estado = cached("link.resolve", resolve_estado(extracted, dims))
        muni = cached("link.resolve", resolve_municipio(extracted, estado, dims))
        firsts = cached("link.parse", first_parsed(parse_mentions(extracted)))
        records = stage("link.assemble", "records", assemble_record(extracted, estado, muni, firsts))
        stage("triples", "triples", records_to_triples(records))
        for df in (extracted, estado, muni, firsts, pairs):
            df.unpersist()
        return {
            "rows": store.manifest("triples")["rows"],
            "stages": {s: store.manifest(s)["rows"] for s in self.STAGES},
        }

    def traced_extra(self, spark, out: str, tr) -> None:
        """The near-dup phase (``near_dup_phase``)."""
        near_dup_phase(spark, self.path("sf"), self.seed,
                       max(200, int(NEAR_DUP_DOCS * self.scale)), tr)


# ------------------------------------------------------------- near-dup


NEAR_DUP_DOCS = 5000
NEAR_DUP_QUERIES = ("ngram_jaccard_pairs", "minhash_lsh_pairs", "near_dup_groups")


def _norm(rows) -> list[tuple]:
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows)


def near_dup_phase(spark, sf_dir: str, seed: int, n_docs: int, tr) -> None:
    """The registry's near-duplicate queries (``ngram_jaccard_pairs``,
    ``minhash_lsh_pairs``, ``near_dup_groups`` in
    ``__spark_entry__.queries()``) over a ``tools/gen_sfbig.gen_documents``
    corpus: their ops.dedup calls, one span each, checked against the
    queries' DuckDB ``oracle_sql()`` entries over a ``documents`` view of
    the same parquet. The groups layer takes the minhash layer's pairs
    instead of recomputing them, so each span times its own layer."""
    import __spark_entry__ as entry
    from tools.gen_sfbig import gen_documents

    from structured_data_entity_extraction_spark.cc import connected_components
    from structured_data_entity_extraction_spark.ops import dedup

    os.makedirs(sf_dir, exist_ok=True)
    gen_documents(sf_dir, n_docs, seed=seed)
    parquet = os.path.join(sf_dir, "documents.parquet")
    sqls = entry.oracle_sql()
    view = f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parquet}')"
    expected = {q: _norm(_fetch(sqls[q], view)) for q in NEAR_DUP_QUERIES}

    docs = spark.read.parquet(parquet)
    got = {}
    with tr.span("ops.dedup.ngram") as rec:
        got["ngram_jaccard_pairs"] = dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, df_cap=1000).collect()
        rec["rows_out"] = rec["pairs_out"] = len(got["ngram_jaccard_pairs"])
    with tr.span("ops.dedup.minhash") as rec:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.6).persist()
        got["minhash_lsh_pairs"] = pairs.collect()
        rec["rows_out"] = rec["pairs_out"] = len(got["minhash_lsh_pairs"])
    with tr.span("ops.dedup.groups") as rec:
        got["near_dup_groups"] = dedup.near_dup_groups(pairs).collect()
        rec["rows_out"] = len(got["near_dup_groups"])
    st: dict = {}
    connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b", stats=st)
    rec["cc_distributed"] = int(st["method"] != "driver")
    pairs.unpersist()
    for q in NEAR_DUP_QUERIES:
        if _norm(got[q]) != expected[q]:
            raise Mismatch(f"{q}: {len(got[q])} rows, oracle {len(expected[q])}")


WORKLOADS = {w.name: w for w in (CodekgBuild, AvaluoBuild)}
