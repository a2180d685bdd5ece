"""The three workloads: their seeded inputs, the timed job, the output
checks and the plan metrics that belong to each layer.

Every workload is a closed loop: one job at a time, the next starts when
the previous one returned. The seed shifts the doc-index / image-parameter
range, so the program only ever sees generated inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np

from eventlog import KERNEL_NODES

# Bumped whenever a generator below changes what it writes; part of the
# input cache key.
GEN_VERSION = "3"
FORMATS = ("png", "pdf", "jpeg", "dct_pdf", "jpeg_arith", "jpeg_hier",
           "tiff_g4", "tiff_jpeg", "vp8l", "vp8l_palette")
ENCODERS = (("jpeg_ref_encoder", "encode_jpeg"),
            ("jpeg_arith_ref_encoder", "encode_jpeg_arith"),
            ("jpeg_hier_ref_encoder", "encode_jpeg_hierarchical"),
            ("tiff_ref_encoder", "write_tiff"),
            ("webp_ref_encoder", "encode_vp8l"))
MEDIA_H, MEDIA_W = 96, 160
# extract_manifest's corpus is the first SHARED_DOCS docs of
# extract_joined's, so the two payload paths are compared on them
SHARED_DOCS = 300


def seed_start(seed: int) -> int:
    """First doc index / image id of a seed's range. A multiple of 100,
    so every range holds the same 1% media-heavy skew tail
    (`fixtures.is_skew_doc`) and the same round-robin format mix."""
    return int(seed) * 100_000


def load_encoders(tests_dir: str) -> dict:
    """The independent test-side encoders. A missing one is an error: the
    decode mix never falls back to other containers."""
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    out = {}
    for mod, name in ENCODERS:
        if not os.path.exists(os.path.join(tests_dir, mod + ".py")):
            raise RuntimeError(f"decode_mix needs encoder {mod}.{name}: "
                               f"{mod}.py is not in {tests_dir}")
        try:
            out[name] = getattr(__import__(mod), name)
        except (ImportError, AttributeError) as e:
            raise RuntimeError(
                f"decode_mix needs encoder {mod}.{name} from {tests_dir}: {e}"
            ) from e
    return out


def media_image(i: int) -> np.ndarray:
    """Unique gray image for image id `i`. Its frequencies and phases are
    drawn from a generator keyed by the id, so any range of ids is an
    independent sample of the same content mix and equal-sized ranges cost
    about the same to decode."""
    y, x = np.mgrid[0:MEDIA_H, 0:MEDIA_W]
    fx, fy, px, py = np.random.default_rng(i).uniform([3, 2, 0, 0], [11, 9, 64, 64])
    img = 128 + 70 * np.sin((x + px) / fx) + 40 * np.cos((y + py) / fy)
    return img.clip(0, 255).astype(np.uint8)


def encode_media(i: int, enc: dict) -> bytes:
    """Image id `i` encoded in container FORMATS[i % 10]."""
    from openocr_spark.kernels.media_decode import encode_png
    from openocr_spark.kernels.pdf_format import encode_pdf

    img = media_image(i)
    fmt = FORMATS[i % len(FORMATS)]
    if fmt == "png":
        return encode_png(img)
    if fmt == "pdf":
        return encode_pdf([img])
    if fmt == "jpeg":
        return enc["encode_jpeg"](img)
    if fmt == "dct_pdf":
        return encode_pdf([enc["encode_jpeg"](img)])
    if fmt == "jpeg_arith":
        return enc["encode_jpeg_arith"](img)
    if fmt == "jpeg_hier":
        return enc["encode_jpeg_hierarchical"](
            img, [{"kind": "dct"}, {"kind": "dct", "exp": (1, 1)}])
    if fmt == "tiff_g4":
        return enc["write_tiff"]([{"pixels": img > 128, "compression": 4}])
    if fmt == "tiff_jpeg":
        return enc["write_tiff"]([{
            "pixels": img, "compression": 7, "photometric": 1,
            "jpeg_bytes": enc["encode_jpeg"](img), "jpeg_split_tables": True}])
    if fmt == "vp8l":
        return enc["encode_vp8l"](img, subtract_green=True, lz77=True,
                                  cache_bits=6)
    return enc["encode_vp8l"]((img >> 4) << 4, palette=True, lz77=True)


def sniff(content: bytes) -> str:
    """Container of an encoded payload, from its magic bytes and headers."""
    if content.startswith(b"\x89PNG"):
        return "png"
    if content.startswith(b"%PDF-"):
        return "dct_pdf" if b"/DCTDecode" in content else "pdf"
    if content.startswith(b"\xff\xd8"):
        if b"\xff\xde" in content:  # DHP: hierarchical process
            return "jpeg_hier"
        if b"\xff\xc9" in content:  # SOF9: arithmetic coding
            return "jpeg_arith"
        return "jpeg"
    if content.startswith(b"II*\x00"):
        ifd = int.from_bytes(content[4:8], "little")
        for k in range(int.from_bytes(content[ifd:ifd + 2], "little")):
            entry = content[ifd + 2 + 12 * k: ifd + 14 + 12 * k]
            if int.from_bytes(entry[:2], "little") == 259:  # Compression
                comp = int.from_bytes(entry[8:10], "little")
                return {4: "tiff_g4", 7: "tiff_jpeg"}.get(comp, f"tiff_{comp}")
        return "tiff"
    if content.startswith(b"RIFF") and content[12:16] == b"VP8L":
        # after the 5-byte VP8L header: 1 bit transform-present, then the
        # 2-bit transform type (3 = color indexing, the palette path)
        bits = content[25]
        return "vp8l_palette" if bits & 1 and (bits >> 1) & 3 == 3 else "vp8l"
    return "unknown"


def features(px: np.ndarray) -> tuple[float, float, float]:
    """The per-page features `extract_features` computes."""
    return float(px.mean()), float(px.std()), float((px > 0).mean())


def fixture_docs(spark, start: int, n: int, files: int):
    """Fixture documents start .. start+n-1 (the `fixtures` generator)."""
    import pandas as pd

    from openocr_spark import schemas
    from openocr_spark.fixtures import doc_id_for, is_skew_doc, spans_for_doc

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                did = doc_id_for(int(i))
                rows.append({"doc_id": did,
                             "spans": spans_for_doc(did, skew=is_skew_doc(int(i)))})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return spark.range(start, start + n, 1, files).mapInPandas(
        gen, schema=schemas.DOCUMENTS)


def oracle_digest(doc_idx: int) -> str:
    """Span-sequence digest of one fixture doc from the independent
    single-node extraction path."""
    from openocr_spark.fixture_oracle import span_seq_md5
    from openocr_spark.fixtures import doc_id_for, is_skew_doc, spans_for_doc
    from openocr_spark.oracle import extract_media_text, is_boilerplate

    did = doc_id_for(doc_idx)
    kept = []
    for s in sorted(spans_for_doc(did, skew=is_skew_doc(doc_idx)),
                    key=lambda s: s["offset"]):
        if s["kind"] == "text":
            if not is_boilerplate(s["text"]):
                kept.append(("text", s["text"], None))
        else:
            kept.append(("media", extract_media_text(s["media_ref"]),
                         s["media_ref"]))
    return span_seq_md5([(k, t, m, i) for i, (k, t, m) in enumerate(kept)])


def spark_digest(spans) -> str:
    from openocr_spark.fixture_oracle import span_seq_md5

    return span_seq_md5([(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in spans])


def is_empty_doc(doc_idx: int) -> bool:
    """Whether every span of the doc is filtered out (no media, all text
    boilerplate) — such docs must still appear, with no spans."""
    from openocr_spark.fixtures import doc_id_for, is_skew_doc, spans_for_doc
    from openocr_spark.oracle import is_boilerplate

    spans = spans_for_doc(doc_id_for(doc_idx), skew=is_skew_doc(doc_idx))
    return all(s["kind"] == "text" and is_boilerplate(s["text"]) for s in spans)


def _node_is(*names):
    return lambda name, anc, below: name.startswith(names)


def _below_kernel(name, anc, below):
    return any(a in KERNEL_NODES for a in anc)


def _innermost_kernel(name, anc, below):
    """The first Python kernel of a chain. A kernel's "time to run Python
    workers" spans its task from runner start to the worker's finish, so a
    kernel fed by another kernel repeats the inner one's time."""
    return name in KERNEL_NODES and not below


class Workload:
    """One workload bound to a seed. Subclasses fill in inputs, the timed
    job, the checks and the layer split."""

    name = ""
    item = ""
    n_items = 0
    kernel_layer = "operators.extract.kernel_python"

    def __init__(self, root: str, cache_dir: str, work_dir: str, seed: int):
        self.root, self.seed = root, int(seed)
        self.start = seed_start(seed)
        self.work_dir = work_dir
        self.input_dir = os.path.join(
            cache_dir, f"{self.name}-s{self.seed}-n{self.n_items}-g{GEN_VERSION}")

    def info(self) -> dict:
        return {"workload": self.name, "seed": self.seed, "item": self.item,
                "items_per_job": self.n_items, "first_index": self.start}

    def _inp(self, part: str) -> str:
        return os.path.join(self.input_dir, part)

    def _cached(self, part: str) -> bool:
        return os.path.exists(os.path.join(self._inp(part), "_SUCCESS"))

    def extract_layers(self, pm) -> dict:
        """Plan/stage metrics of the extraction operator and the assembly."""
        oha = _node_is("ObjectHashAggregate")
        tasks = len(pm.tasks_touching(oha))
        common = self.layers_common(pm)
        media_exchange = (lambda n, a, b: n == "Exchange" and _below_kernel(n, a, b))
        broadcast = (lambda n, a, b: n == "BroadcastExchange"
                     and _below_kernel(n, a, b))
        return {
            "operators.extract.join_shuffle_bytes":
                pm.plan("shuffle bytes written", media_exchange)
                + pm.plan("data size", broadcast),
            "operators.extract.shuffle_write_s": pm.task_sum("shuffle_write_ns") / 1e9,
            "operators.extract.fetch_wait_s": pm.task_sum("fetch_wait_ms") / 1e3,
            "operators.extract.kernel_python_s": common["stage.kernel_python_s"],
            "operators.extract.arrow_bytes_sent": common["stage.kernel_bytes_sent"],
            "operators.extract.arrow_bytes_received":
                common["stage.kernel_bytes_received"],
            "operators.extract.assembly_agg_s":
                pm.plan("time in aggregation build", oha) / 1e3,
            "operators.extract.assembly_sort_fallback_ratio":
                pm.plan("number of sort fallback tasks", oha) / tasks if tasks else 0.0,
        }

    def layers(self, pm) -> dict:
        return self.layers_common(pm)

    def layers_common(self, pm) -> dict:
        """Per-layer metrics every workload has, from the event log."""
        k = _innermost_kernel
        return {
            "session.python_boot_s": pm.plan("time to start Python workers", k) / 1e3,
            "session.python_init_s":
                pm.plan("time to initialize Python workers", k) / 1e3,
            "sources.scan_s": pm.plan("scan time") / 1e3,
            "sources.scan_bytes": pm.task_sum("input_bytes"),
            "stage.executor_run_s": pm.task_sum("run_ms") / 1e3,
            "stage.executor_cpu_s": pm.task_sum("cpu_ns") / 1e9,
            "stage.gc_s": pm.task_sum("gc_ms") / 1e3,
            "stage.task_skew": pm.kernel_stage_skew(),
            "stage.kernel_python_s": pm.plan("time to run Python workers", k) / 1e3,
            "stage.kernel_bytes_sent": pm.plan("data sent to Python workers", k),
            "stage.kernel_bytes_received": pm.plan("data returned from Python workers", k),
        }

    def trace_extras(self, spark) -> dict:
        """Per-layer numbers the program itself records, read after the
        traced loop."""
        return {}

    def executor_layers(self, pm) -> list[tuple]:
        """Executor-time layers (seconds summed over tasks) as a tree of
        (name, seconds, children) under the jobs' executor run time.

        Tasks are split by the stage they run: the kernel stage (runs the
        Python kernel), write stages (run a file write) and scan stages
        (read parquet); what is left stays unattributed. Inside a stage,
        Spark times an operator by the loop that pulls its input, so an
        operator's time contains the operators feeding it: the partial
        aggregate contains the kernel it consumes, the kernel's Python run
        time (runner start to worker finish) contains the scan feeding it,
        the final aggregate its shuffle fetch wait. Python worker start and
        init are not in the tree: with worker reuse Spark counts a reused
        worker's idle wait as init time."""
        oha = _node_is("ObjectHashAggregate")
        write = _node_is("Execute InsertIntoHadoopFsRelationCommand")
        scan = _node_is("Scan parquet")
        kernel_tasks = pm.tasks_touching(_innermost_kernel)
        in_kernel = {id(t) for t in kernel_tasks}
        rest = [t for t in pm.tasks if id(t) not in in_kernel]
        write_tasks = pm.tasks_touching(write, rest)
        scan_tasks = pm.tasks_touching(scan, rest, exclude=write_tasks)

        def sec(metric, node, tasks, scale=1e3):
            return pm.plan(metric, node, tasks) / scale

        def leaf(name, secs):
            return (name, secs, [])

        def agg_over(tasks, inner):
            agg_s = sec("time in aggregation build", oha, tasks)
            return [("operators.extract.assembly_agg", agg_s, inner)] if agg_s else inner

        def shuffle(tasks):
            return leaf("operators.shuffle_write", pm.task_sum("shuffle_write_ns", tasks) / 1e9)

        kernel = (self.kernel_layer,
                  sec("time to run Python workers", _innermost_kernel, kernel_tasks),
                  [leaf("sources.scan", sec("scan time", scan, kernel_tasks))])
        return [
            ("stage.kernel", pm.task_sum("run_ms", kernel_tasks) / 1e3,
             agg_over(kernel_tasks, [kernel]) + [shuffle(kernel_tasks)]),
            ("stage.write", pm.task_sum("run_ms", write_tasks) / 1e3,
             agg_over(write_tasks, [leaf("operators.fetch_wait",
                                         pm.task_sum("fetch_wait_ms", write_tasks) / 1e3)])
             + [leaf("operators.write_commit", sec("task commit time", write, write_tasks))]),
            ("stage.scan", pm.task_sum("run_ms", scan_tasks) / 1e3,
             agg_over(scan_tasks, [leaf("sources.scan", sec("scan time", scan, scan_tasks))])
             + [shuffle(scan_tasks)]),
        ]


class ExtractJoined(Workload):
    name = "extract_joined"
    item = "document"
    n_items = 1500

    def prepare(self, spark) -> None:
        from openocr_spark.fixtures import media_payloads_df

        if not self._cached("docs"):
            fixture_docs(spark, self.start, self.n_items, 8).write.mode(
                "overwrite").parquet(self._inp("docs"))
        if not self._cached("payloads"):
            docs = spark.read.parquet(self._inp("docs"))
            media_payloads_df(spark, docs).write.mode("overwrite").parquet(
                self._inp("payloads"))

    def output(self, spark, limit: int | None = None):
        from openocr_spark.operators.extract import extract

        docs = spark.read.parquet(self._inp("docs"))
        if limit:
            docs = docs.limit(limit)
        return extract(docs, spark.read.parquet(self._inp("payloads")))

    def warm(self, spark) -> None:
        self.output(spark, limit=32).write.format("noop").mode("overwrite").save()

    def job(self, spark) -> None:
        self.output(spark).write.format("noop").mode("overwrite").save()

    def check(self, spark, report: dict) -> int:
        from pyspark.sql import functions as F

        from openocr_spark.operators.extract import extract

        rows = [(r["doc_id"], r["spans"]) for r in self.output(spark).collect()]
        failed = check_docs(self.start, self.n_items, rows, report)
        # cross-path: the synthesized-payload path on the docs this
        # workload shares with extract_manifest must match span for span
        sample = [doc_id(i) for i in sample_docs(self.start)]
        docs = spark.read.parquet(self._inp("docs")).filter(F.col("doc_id").isin(sample))
        other = {r["doc_id"]: r["spans"] for r in extract(docs).collect()}
        failed += cross_check(rows, other, sample, report)
        return failed

    def layers(self, pm) -> dict:
        return {**self.layers_common(pm), **self.extract_layers(pm)}


class ExtractManifest(Workload):
    name = "extract_manifest"
    item = "document"
    n_items = SHARED_DOCS
    n_buckets = 8

    def prepare(self, spark) -> None:
        if not self._cached("docs"):
            fixture_docs(spark, self.start, self.n_items, 8).write.mode(
                "overwrite").parquet(self._inp("docs"))

    def _run(self, spark, limit=None, max_buckets=None) -> None:
        from openocr_spark.operators.manifest import run_with_manifest

        out, man = self.out_dirs()
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(man, ignore_errors=True)
        docs = spark.read.parquet(self._inp("docs"))
        if limit:
            docs = docs.limit(limit)
        run_with_manifest(docs, out, man, n_buckets=self.n_buckets,
                          max_buckets=max_buckets)

    def out_dirs(self) -> tuple[str, str]:
        return (os.path.join(self.work_dir, "manifest_out"),
                os.path.join(self.work_dir, "manifest_rows"))

    def warm(self, spark) -> None:
        self._run(spark, limit=32, max_buckets=1)

    def job(self, spark) -> None:
        # the output and manifest directories are emptied first, so every
        # job processes all buckets (run_with_manifest resumes otherwise)
        self._run(spark)

    def manifest_rows(self, spark) -> list:
        return spark.read.parquet(self.out_dirs()[1]).collect()

    def trace_extras(self, spark) -> dict:
        import statistics

        rows = self.manifest_rows(spark)
        # run_with_manifest times each bucket (extract + write + stats read)
        # and records spans / elapsed as spans_per_sec
        secs = [r["spans"] / r["spans_per_sec"] for r in rows if r["spans_per_sec"]]
        done = {r["partition_id"] for r in rows if r["status"] == "done"}
        return {
            "operators.manifest.bucket_s.median": statistics.median(secs),
            "operators.manifest.bucket_s.max": max(secs),
            "operators.manifest.buckets_done_ratio": len(done) / self.n_buckets,
        }

    def check(self, spark, report: dict) -> int:
        from pyspark.sql import functions as F

        from openocr_spark.fixtures import media_payloads_df
        from openocr_spark.operators.extract import extract
        from openocr_spark.operators.manifest import read_extractions

        rows = [(r["doc_id"], r["spans"])
                for r in read_extractions(spark, self.out_dirs()[0]).collect()]
        failed = check_docs(self.start, self.n_items, rows, report)
        done = {r["partition_id"] for r in self.manifest_rows(spark)
                if r["status"] == "done"}
        report["buckets_done"] = len(done)
        if len(done) != self.n_buckets:
            failed += self.n_items
        # cross-path: the joined-payload path must match span for span
        sample = [doc_id(i) for i in sample_docs(self.start)]
        docs = spark.read.parquet(self._inp("docs")).filter(F.col("doc_id").isin(sample))
        other = {r["doc_id"]: r["spans"]
                 for r in extract(docs, media_payloads_df(spark, docs)).collect()}
        failed += cross_check(rows, other, sample, report)
        return failed

    def layers(self, pm) -> dict:
        write = _node_is("Execute InsertIntoHadoopFsRelationCommand")
        out = {**self.layers_common(pm), **self.extract_layers(pm)}
        out["operators.manifest.write_s"] = (
            pm.plan("task commit time", write) + pm.plan("job commit time", write)) / 1e3
        out["operators.manifest.bytes_written"] = pm.task_sum("output_bytes")
        return out


class DecodeMix(Workload):
    name = "decode_mix"
    item = "media row"
    n_items = 1200
    kernel_layer = "kernels.media_decode.kernel_python"

    def prepare(self, spark) -> None:
        import pandas as pd

        load_encoders(os.path.join(self.root, "tests"))  # fail before the job
        if not self._cached("media"):
            tests_dir = os.path.join(self.root, "tests")

            def gen(batches):
                enc = load_encoders(tests_dir)
                for pdf in batches:
                    ids = [int(i) for i in pdf["id"].tolist()]
                    yield pd.DataFrame({
                        "doc_id": [f"img-{i:010d}" for i in ids],
                        "media_ref": [f"bench://{i}" for i in ids],
                        "content": [encode_media(i, enc) for i in ids],
                    })

            # 8 files: Spark packs them into one scan split per core here
            (spark.range(self.start, self.start + self.n_items, 1, 8)
             .mapInPandas(gen, "doc_id string, media_ref string, content binary")
             .write.mode("overwrite").parquet(self._inp("media")))
        self.mix = self.sniff_mix(spark)
        expected = {f: self.n_items // len(FORMATS) for f in FORMATS}
        if self.mix != expected:
            raise RuntimeError(f"degraded decode corpus: sniffed {self.mix}, "
                               f"expected {expected}")

    def sniff_mix(self, spark) -> dict:
        path = os.path.join(self.input_dir, "mix.json")
        if not os.path.exists(path):
            counts: dict[str, int] = {}
            for r in spark.read.parquet(self._inp("media")).select(
                    "content").toLocalIterator():
                fmt = sniff(bytes(r["content"]))
                counts[fmt] = counts.get(fmt, 0) + 1
            with open(path, "w") as f:
                json.dump(counts, f)
        with open(path) as f:
            return json.load(f)

    def info(self) -> dict:
        return {**super().info(), "mix": self.mix}

    def output(self, spark, limit: int | None = None):
        from openocr_spark.kernels.media_decode import decode_media, extract_features

        media = spark.read.parquet(self._inp("media"))
        if limit:
            media = media.limit(limit)
        return extract_features(decode_media(media))

    def warm(self, spark) -> None:
        self.output(spark, limit=20).write.format("noop").mode("overwrite").save()

    def job(self, spark) -> None:
        self.output(spark).write.format("noop").mode("overwrite").save()

    def sample_ids(self) -> list[int]:
        return [self.start + k for k in range(2 * len(FORMATS))]

    def check(self, spark, report: dict) -> int:
        from pyspark.sql import functions as F

        from openocr_spark.kernels.media_decode import decode_bytes

        got = {}
        for r in self.output(spark).collect():
            got.setdefault(r["media_ref"], []).append(
                (r["page_no"], r["mean_px"], r["std_px"], r["nonzero_frac"]))
        expected = {f"bench://{self.start + k}" for k in range(self.n_items)}
        bad_pages = sum(1 for ref in expected
                        if [p[0] for p in got.get(ref, [])] != [0])
        extra = len(set(got) - expected)
        refs = [f"bench://{i}" for i in self.sample_ids()]
        content = {r["media_ref"]: bytes(r["content"]) for r in
                   spark.read.parquet(self._inp("media"))
                   .filter(F.col("media_ref").isin(refs)).collect()}
        mismatched = 0
        for ref in refs:
            want = [(n, *features(px))
                    for n, px in enumerate(decode_bytes(content[ref]))]
            mismatched += got.get(ref) != want
        report.update(wrong_page_count=bad_pages, extra_rows=extra,
                      feature_sample=len(refs), feature_mismatch=mismatched)
        return bad_pages + extra + mismatched

    def layers(self, pm) -> dict:
        common = self.layers_common(pm)
        return {
            **common,
            "kernels.media_decode.kernel_python_s": common["stage.kernel_python_s"],
            "kernels.media_decode.pixels_bytes_received":
                common["stage.kernel_bytes_received"],
        }


def doc_id(i: int) -> str:
    from openocr_spark.fixtures import doc_id_for

    return doc_id_for(i)


def sample_docs(start: int) -> list[int]:
    """Fixed oracle sample inside the docs every extract workload of a
    seed shares: the first 12, the first media-heavy skew doc and up to 4
    docs whose spans are all filtered out."""
    idx = list(range(start, start + 13))  # start + 7 is a skew doc
    idx += [i for i in range(start, start + SHARED_DOCS) if is_empty_doc(i)][:4]
    return sorted(set(idx))


def check_docs(start: int, n: int, rows: list[tuple], report: dict) -> int:
    """Every doc present exactly once (empty ones too), and the sampled
    docs' span sequences equal to the single-node oracle's. `rows` are the
    output's (doc_id, spans). Returns the number of failed docs."""
    expected = {doc_id(i) for i in range(start, start + n)}
    by_id = dict(rows)
    missing = len(expected - by_id.keys())
    extra = len(by_id.keys() - expected)
    duplicate = len(rows) - len(by_id)
    sample = sample_docs(start)
    wrong = sum(1 for i in sample
                if doc_id(i) in by_id and spark_digest(by_id[doc_id(i)]) != oracle_digest(i))
    empty = [i for i in sample if is_empty_doc(i)]
    report.update(missing_docs=missing, extra_docs=extra, duplicate_docs=duplicate,
                  oracle_sample=len(sample), oracle_mismatch=wrong,
                  empty_docs_checked=len(empty))
    return missing + extra + duplicate + wrong


def cross_check(rows: list[tuple], other: dict, sample: list[str], report: dict) -> int:
    """The sampled docs' span sequences equal between the two payload paths."""
    by_id = dict(rows)
    wrong = sum(1 for d in sample if d not in other or d not in by_id
                or spark_digest(by_id[d]) != spark_digest(other[d]))
    report.update(cross_path_sample=len(sample), cross_path_mismatch=wrong)
    return wrong


WORKLOADS = {w.name: w for w in (ExtractJoined, DecodeMix, ExtractManifest)}
