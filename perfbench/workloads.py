"""The benchmark workloads.

Each workload has the same shape, driven by ``run.py``:

* ``prepare(ctx)`` writes the seeded inputs and returns them;
* ``iterate(ctx, tr, inp)`` runs one pass of the product over ``inp``
  through the library, timing each public call in a span, and returns
  the pass's operation latencies and item count;
* ``warm_up`` says whether ``run.py`` first runs an untimed, checked
  ``iterate(ctx, tr, inp, warm_up=True)`` pass, so that the timed
  passes run in a warm session, and ``min_passes`` how many passes it
  times at least (it times whole passes until ``--seconds`` have
  passed);
* ``check(ctx, inp, res)`` verifies one pass's outputs, outside any
  timed region, and returns ``{check name: passed}``;
* ``layers(spans, att)`` turns a traced pass into the workload's
  per-layer metrics.
"""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import json
import os
import shutil
import sys
from typing import Literal, Optional

import gen

# ---------------------------------------------------------------------- #
# crawl_to_shards                                                          #
# ---------------------------------------------------------------------- #

CRAWL_PAGES, CRAWL_FILES = 600, 8
CRAWL_WEIGHTS = {"web": 5, "news": 3, "forum": 2}
# seed -> fingerprint of the shards that seed must produce; rewrite it
# with record_fingerprints.py when an output change is intended
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")


def crawl_fingerprint(out: str) -> str:
    """sha256 over the written shard rows (mix id, url, text), sorted."""
    import pyarrow.parquet as pq

    shards = pq.read_table(os.path.join(out, "shards"),
                           columns=["mix_id", "url", "text"]).to_pydict()
    rows = sorted(zip(shards["mix_id"], shards["url"], shards["text"]))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class CrawlToShards:
    """WARC.gz segments -> HTTP 200 filter -> HTML text -> prepared corpus
    -> domain mixture -> packed sequences and token-balanced shards."""

    name = "crawl_to_shards"
    # a scheduled batch job: each run times the first pass of a fresh
    # process, as the product runs
    warm_up, min_passes = False, 1

    def prepare(self, ctx) -> dict:
        warc = os.path.join(ctx.work, "warc")
        truth = gen.write_warc_segments(warc, ctx.seed, CRAWL_PAGES, CRAWL_FILES)
        return {"warc": warc, "truth": truth, "bytes": truth["bytes"], "passes": 0}

    def iterate(self, ctx, tr, inp) -> dict:
        from pyspark.sql import functions as F

        from patito_spark.functions.cache import release_caches
        from patito_spark.operators.mixing import mix_corpora
        from patito_spark.operators.packing import pack_sequences
        from patito_spark.operators.pipeline import prepare_training_corpus
        from patito_spark.operators.text import extract_html_text
        from patito_spark.sources import read_warc, write_training_shards

        inp["passes"] += 1
        out = os.path.join(ctx.work, f"out{inp['passes']}")
        pages = inp["truth"]["n_pages"]
        with tr.span("pipeline") as run:
            with tr.span("sources.read_warc"):
                records = read_warc(inp["warc"], glob="*.warc.gz", spark=ctx.spark)
            crawl = records.filter(F.col("http_status") == 200).select(
                F.col("target_uri").alias("url"),
                F.regexp_extract("target_uri", r"/page/(\d+)$", 1)
                .cast("long").alias("doc_id"),
                F.regexp_extract("target_uri", r"^https?://[^/.]+\.([a-z]+)\.", 1)
                .alias("domain"),
                extract_html_text(F.decode("payload", "UTF-8")).alias("text"),
            )
            with tr.span("operators.prepare_training_corpus"):
                prepared = prepare_training_corpus(
                    crawl,
                    boilerplate_min_docs=5,
                    dedup_span_tokens=50,
                    rule_sets=["gopher", "c4"],
                    min_tokens=50,
                    dedup_threshold=0.7,
                    max_tokens_per_chunk=256,
                    pack_max_len=1024,
                )
            # write_training_shards evaluates its input twice (token total
            # + write) and documents that callers persist a costly upstream
            docs = prepared["documents"].persist()
            with tr.span("operators.mix_corpora"):
                mixed = mix_corpora(
                    {d: docs.filter(F.col("domain") == d) for d in CRAWL_WEIGHTS},
                    weights=CRAWL_WEIGHTS,
                    token_budget=pages * 150,
                )["mixed"]
            mixed = mixed.withColumn("mix_id", F.col("doc_id") * 64 + F.col("epoch"))
            with tr.span("operators.pack_sequences"):
                sequences = pack_sequences(mixed, id_col="mix_id", max_len=2048)
            with tr.span("sources.write_training_shards"):
                shards = write_training_shards(
                    mixed, os.path.join(out, "shards"),
                    target_tokens_per_shard=40_000, id_col="mix_id",
                )
            with tr.span("sequences.write"):
                sequences.write.parquet(os.path.join(out, "sequences"))
            docs.unpersist()
            release_caches()
        wall = run["end"] - run["start"]
        return {"ops": [wall], "items": pages, "wall": wall, "out": out,
                "shards": shards, "plan_df": [mixed]}

    def check(self, ctx, inp, res) -> dict:
        import pyarrow.parquet as pq

        def read(*parts):
            return pq.read_table(os.path.join(res["out"], *parts)).to_pydict()

        shards, seqs = read("shards"), read("sequences")
        manifest = read("shards", "_manifest")
        truth = inp["truth"]
        urls, texts = set(shards["url"]), shards["text"]
        tokens = [len(t.split(" ")) for t in texts]
        per_shard: dict[int, int] = {}
        for shard, n in zip(shards["shard"], tokens):
            per_shard[int(shard)] = per_shard.get(int(shard), 0) + n
        marks = (gen.SCRIPT_MARK, gen.STYLE_MARK, gen.NOTFOUND_MARK, "<script", "<style")
        fingerprint = crawl_fingerprint(res["out"])
        seen = inp.setdefault("fingerprints", [])
        seen.append(fingerprint)
        with open(FINGERPRINTS) as fh:
            expected = json.load(fh).get(str(ctx.seed))
        checks = {
            "crawl.no_404": not urls & set(truth["not_found"]),
            "crawl.exact_mirrors_removed": not any(
                a in urls and b in urls for a, b in truth["exact_mirrors"]
            ),
            "crawl.no_script_style": not any(m in t for t in texts for m in marks),
            "crawl.manifest_tokens": (
                dict(zip(manifest["shard"], manifest["n_tokens"])) == per_shard
                and sum(tokens) == res["shards"]["total_tokens"]
            ),
            "crawl.sequences_cover_shards": (
                sorted(i for ids in seqs["doc_ids"] for i in ids)
                == sorted(shards["mix_id"])
                and sum(seqs["total_tokens"]) == sum(tokens)
            ),
            # every pass of a run writes the same shards
            "crawl.fingerprint_repeats": fingerprint == seen[0],
        }
        if expected is not None:
            checks["crawl.fingerprint_recorded"] = fingerprint == expected
        return checks

    def cleanup(self, res) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    @staticmethod
    def layers(spans, att) -> dict:
        return {
            **_calls(spans, att, "sources.read_warc"),
            **_calls(spans, att, "operators.prepare_training_corpus", jobs="hidden_jobs"),
            **_calls(spans, att, "operators.mix_corpora", jobs="hidden_jobs"),
            **_calls(spans, att, "operators.pack_sequences"),
            **_calls(spans, att, "sources.write_training_shards"),
        }


# ---------------------------------------------------------------------- #
# validate_models                                                          #
# ---------------------------------------------------------------------- #

VALIDATE_SF, VALIDATE_BATCHES = 0.05, 4
VALIDATE_TABLES = ("lineitem", "orders", "events", "customer")
# queries() entries that reach the model and Relation (database) layers
# through the entry boundary without running operators
ENTRIES = ("q1_pricing_summary", "rel_setops_page", "validated_lineitem")


def make_models():
    """The four table models plus the planted-lineitem model."""
    from pyspark.sql import functions as F

    import patito_spark as pt

    def lineitem(unique_key: bool):
        class LineItem(pt.Model):
            l_orderkey: int = pt.Field(unique=unique_key)
            l_partkey: int
            l_suppkey: int
            l_linenumber: int = pt.Field(ge=1)
            l_quantity: float = pt.Field(gt=0)
            l_extendedprice: float = pt.Field(ge=0)
            l_discount: float = pt.Field(ge=0, le=1)
            l_tax: float = pt.Field(ge=0)
            l_returnflag: Literal["A", "N", "R"]
            l_linestatus: Literal["O", "F"]
            l_shipdate: dt.datetime
            l_net: float = pt.Field(
                derived_from=F.col("l_extendedprice") * (1 - F.col("l_discount"))
            )

        return LineItem

    class Order(pt.Model):
        o_orderkey: int = pt.Field(unique=True)
        o_custkey: int = pt.Field(ge=0)
        o_orderstatus: Literal["F", "O", "P"] = "O"
        o_totalprice: float = pt.Field(ge=0)
        o_orderdate: dt.datetime
        o_orderpriority: Literal[
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
        ]

    class Event(pt.Model):
        event_id: int = pt.Field(unique=True)
        ts: dt.datetime
        user_id: int = pt.Field(ge=0)
        event_type: Literal["click", "view", "purchase", "signup", "error"]
        value: float = pt.Field(gt=0)
        props: Optional[str] = "{}"
        day: dt.date = pt.Field(derived_from=F.to_date("ts"))

    class Customer(pt.Model):
        c_custkey: int = pt.Field(unique=True)
        c_name: str
        c_nationkey: int = pt.Field(ge=0, le=24)
        c_acctbal: float
        c_mktsegment: Literal[
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
        ]

    models = {"lineitem": lineitem(False), "orders": Order, "events": Event,
              "customer": Customer, "lineitem_planted": lineitem(True)}
    for model in models.values():
        model.spark_schema  # noqa: B018 -- schema derivation is what is timed
    return models


class ValidateModels:
    """For each of four equal batches of four clean tables (as a
    pipeline validates batches as they land): read_parquet(model=) ->
    validate -> cast -> fill_null("defaults") -> derive -> noop write;
    then one planted batch of ``lineitem``, which must fail validation;
    then the ``queries()`` entries that exercise the model and Relation
    layers, each into the noop sink. No ``operators`` code runs."""

    name = "validate_models"
    # a long-lived process validating batches as they land: the timed
    # passes follow an untimed warm-up pass over the first batch of each
    # table, the planted batch and the entries (in a cold session JIT and
    # code generation would dominate the timed figures); at least two
    # passes are timed, as one pass spans too few of a shared host's
    # speed swings to average them out
    warm_up, min_passes = True, 2

    def prepare(self, ctx) -> dict:
        import duckdb

        import __spark_entry__ as em

        src, path = os.path.join(ctx.work, "source"), os.path.join(ctx.work, "tables")
        gen.write_tables(src, ctx.seed, VALIDATE_SF)
        rows = {}
        for table in VALIDATE_TABLES:
            rows.update(gen.split_batches(src, path, table, VALIDATE_BATCHES))
        planted = gen.plant_violations(src, path, ctx.seed, rows["lineitem-0"])
        rows["lineitem_planted"] = planted["rows"]
        con = duckdb.connect()
        for t in em.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
        size_b = sum(
            os.path.getsize(os.path.join(d, f))
            for d in (src, path) for f in os.listdir(d)
        )
        return {"dir": path, "source": src, "rows": rows, "planted": planted,
                "bytes": size_b, "em": em, "con": con}

    def iterate(self, ctx, tr, inp, warm_up: bool = False) -> dict:
        from patito_spark.exceptions import DataFrameValidationError
        from patito_spark.functions.cache import release_caches
        from patito_spark.sources.readers import read_parquet

        tables = [t for t in inp["rows"]
                  if not warm_up or t.endswith(("-0", "planted"))]
        ops, errors, plan_dfs = [], {}, []
        with tr.span("pass") as run:
            with tr.span("model.schema"):
                models = make_models()
            for table in tables:
                kind = "planted" if table.endswith("planted") else "clean"
                path = os.path.join(inp["dir"], f"{table}.parquet")
                model = models[table if kind == "planted" else table.split("-")[0]]
                with tr.span("sources.read_parquet"):
                    df = read_parquet(path, model=model, spark=ctx.spark)
                with tr.span(f"validators.validate.{kind}") as v:
                    try:
                        df.validate()
                    except DataFrameValidationError as exc:
                        errors[table] = exc.errors()
                ops.append(v["end"] - v["start"])
                if kind == "planted":
                    continue
                with tr.span("dataframe.cast"):
                    df = df.cast()
                with tr.span("dataframe.fill_null"):
                    df = df.fill_null(strategy="defaults")
                with tr.span("dataframe.derive"):
                    df = df.derive()
                with tr.span("noop.write"):
                    df.inner.write.format("noop").mode("overwrite").save()
                plan_dfs.append(df)
            queries = inp["em"].queries()
            for name in ENTRIES:
                with tr.span("entry.build"):
                    df = queries[name](ctx.spark, inp["source"])
                with tr.span("entry.action"):
                    df.write.format("noop").mode("overwrite").save()
                plan_dfs.append(df)
                release_caches()
        return {"ops": ops, "items": sum(inp["rows"][t] for t in tables),
                "wall": run["end"] - run["start"], "errors": errors,
                "plan_df": plan_dfs}

    def check(self, ctx, inp, res) -> dict:
        p = inp["planted"]
        expected = {
            ("l_partkey", f"{p['l_partkey.nulls']} missing values"),
            ("l_returnflag", f"Rows with invalid values: {sorted(p['l_returnflag.enum'])}."),
            ("l_discount", f"{p['l_discount.bounds']} rows with out of bound values."),
            ("l_quantity", f"{p['l_quantity.bounds']} rows with out of bound values."),
            ("l_orderkey", f"{p['l_orderkey.unique']} duplicated rows."),
        }
        errors = dict(res["errors"])
        got = {(e["loc"][0], _sorted_set(e["msg"]))
               for e in errors.pop("lineitem_planted", [])}
        checks = {
            "validate.clean_tables_pass": not errors,
            "validate.planted_counts_exact": got == expected,
        }
        if inp["con"] is not None:
            checks.update(self._verify_entries(ctx, inp))
            inp["con"].close()
            inp["con"] = None
        return checks

    @staticmethod
    def _verify_entries(ctx, inp) -> dict:
        """Hash-compare each entry with its DuckDB oracle, using
        ``tools/verify_entries.py``'s comparison (after the first pass
        only: entries and inputs do not change between passes)."""
        sys.path.insert(0, os.path.join(ctx.root, "tools"))
        from verify_entries import compare

        from patito_spark.functions.cache import release_caches

        # oracle fragments that depend on the data read this directory
        os.environ["PATITO_ORACLE_SF_DIR"] = inp["source"]
        checks = {}
        for name in ENTRIES:
            result = compare(ctx.spark, inp["con"], name, inp["source"])
            checks[f"entry.oracle.{name}"] = bool(result.get("ok"))
            release_caches()
        return checks

    def cleanup(self, res) -> None:
        pass

    @staticmethod
    def layers(spans, att) -> dict:
        clean = _calls(spans, att, "validators.validate.clean")
        planted = _calls(spans, att, "validators.validate.planted")
        n_clean = sum(1 for s in spans if s["name"] == "validators.validate.clean")
        build = _calls(spans, att, "entry.build")
        return {
            "model.schema_s": _calls(spans, att, "model.schema")["model.schema.call_s"],
            **_calls(spans, att, "sources.read_parquet"),
            "validators.validate.call_s": clean["validators.validate.clean.call_s"]
            + planted["validators.validate.planted.call_s"],
            "validators.validate.jobs": clean["validators.validate.clean.jobs"] / n_clean,
            "validators.validate.exec_cpu_s": sum(
                att["span_cpu"].get(s["id"], 0.0) for s in spans
                if s["name"].startswith("validators.validate.")
            ),
            **_calls(spans, att, "dataframe.cast"),
            **_calls(spans, att, "dataframe.fill_null"),
            **_calls(spans, att, "dataframe.derive"),
            "entry.build_s": build["entry.build.call_s"],
            "entry.hidden_jobs": build["entry.build.jobs"],
            "entry.action_s": _calls(spans, att, "entry.action")["entry.action.call_s"],
        }


def _sorted_set(msg: str) -> str:
    """Render the value set in an enum error message in sorted order."""
    head, sep, rest = msg.partition("{")
    if not sep:
        return msg
    values, _, tail = rest.partition("}")
    return head + repr(sorted(ast.literal_eval("{" + values + "}"))) + tail


def _calls(spans, att, name: str, jobs: str = "jobs") -> dict:
    """Summed wall time and job count of every span called ``name``."""
    mine = [s for s in spans if s["name"] == name]
    return {
        f"{name}.call_s": sum(s["end"] - s["start"] for s in mine),
        f"{name}.{jobs}": sum(len(att["span_jobs"].get(s["id"], [])) for s in mine),
    }


WORKLOADS = {w.name: w for w in (CrawlToShards, ValidateModels)}
