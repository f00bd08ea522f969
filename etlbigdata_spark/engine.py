"""Engine: the session, the catalog and the SQL entry point.

Replaces the reference's Streamlit wizard (Extract → Transform → Load,
``simple_etl.py:49``) with a library API.  ``Engine`` holds what the
package functions cannot: the ``SparkSession``, the ``Catalog`` of named
temp views that ``sql`` and ``Pipeline`` joins resolve against, and
method dispatch with validation (``near_dup_pairs``, ``dedup_near``,
``similar_topk``).  Everything else is called directly from
``functions``, ``operators``, ``sources`` and ``streaming`` — the Load
stage is ``sources.writers`` — so data never leaves the JVM between ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog
from .functions import corpus as fcorpus
from .functions import dedup as fdedup
from .functions import multimodal as fmm
from .functions import similarity as fsim
from .functions import text as ftext
from .operators import scale as opscale
from .session import build_session
from .sources import readers, writers


class Engine:
    def __init__(self, spark: SparkSession | None = None, **session_kwargs) -> None:
        self.spark = spark or build_session(**session_kwargs)
        self.catalog = Catalog(self.spark)

    # -- Extract (SURVEY §2 A1-A5) ------------------------------------
    def load_parquet(self, path: str, name: str | None = None) -> DataFrame:
        df = readers.read_parquet(self.spark, path)
        return self._maybe_register(name, df)

    def load_csv(self, path: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_csv(self.spark, path, **opts)
        return self._maybe_register(name, df)

    def load_json(self, path: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_json(self.spark, path, **opts)
        return self._maybe_register(name, df)

    def load_excel(self, path: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_excel(self.spark, path, **opts)
        return self._maybe_register(name, df)

    def load_orc(self, path: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_orc(self.spark, path, **opts)
        return self._maybe_register(name, df)

    def load_text(self, path: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_text(self.spark, path, **opts)
        return self._maybe_register(name, df)

    def load_xml(self, path: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_xml(self.spark, path, **opts)
        return self._maybe_register(name, df)

    def load_jdbc(self, url: str, table: str, name: str | None = None, **opts) -> DataFrame:
        df = readers.read_jdbc(self.spark, url, table, **opts)
        return self._maybe_register(name, df)

    def load_testdata(self, sf_dir: str, tables: list[str] | None = None) -> dict[str, DataFrame]:
        """Register the driver star schema from a ``/root/testdata/sf*`` dir."""
        tables = tables or [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
        return {t: self.load_parquet(f"{sf_dir}/{t}.parquet", name=t) for t in tables}

    # -- Query --------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """SQL entry point (B1): Catalyst is the parser/optimizer/planner."""
        return self.spark.sql(query)

    def register_sql_functions(self) -> list[str]:
        """Register the ``etl_*`` SQL scalar-UDF library (expression-
        backed codegen faces of functions.text — see
        functions.sql_functions); returns the registered names."""
        from .functions.sql_functions import register_sql_functions

        return register_sql_functions(self.spark)

    def table(self, name: str) -> DataFrame:
        return self.catalog.get(name)

    # -- Load (A18-A20) -----------------------------------------------
    def compact_parquet(self, path: str, **kw) -> dict:
        """Rewrite a many-small-files parquet dir into right-sized files
        (streaming-sink hygiene) — see sources.writers.compact_parquet."""
        return writers.compact_parquet(self.spark, path, **kw)

    # -- Training-data pipeline (B23-B25) -----------------------------
    # Method registries: one entry point per family that validates the
    # method name and, for dedup, scopes the cached intermediates.  The
    # single-function stages (exact dedup, BPE, PCA, quality gates...)
    # are called from functions/* and operators/* directly.

    _NEAR_DUP = {
        "jaccard": fdedup.ngram_jaccard_pairs,        # exact n-gram Jaccard
        "containment": fdedup.ngram_containment_pairs,  # verbatim inclusion
        "minhash": fdedup.minhash_candidates,         # r×b LSH candidates
        "minhash_verified": fdedup.minhash_verified_pairs,
        "simhash": fdedup.simhash_near_dups,
        "embedding": fdedup.embedding_near_dups,
        # perceptual media hashes; pass key_col=/bytes_col= (binary media)
        "image": fmm.image_near_dups,
        "audio": fmm.audio_near_dups,
        "video": fmm.video_near_dups,
    }

    def near_dup_pairs(self, df: DataFrame, method: str = "minhash", **kw) -> DataFrame:
        """(id_a, id_b, ...) near-dup pairs; output columns beyond the
        pair key vary by method (jaccard stats, LSH distance, hamming).

        Entry releases any intermediates cached by a PREVIOUS dedup or
        text call (same convention as the declared workload queries), so a
        long-lived Engine holds at most one call's worth of cached
        blocks; a prior not-yet-materialized result stays correct and
        recomputes from lineage."""
        if method not in self._NEAR_DUP:
            raise ValueError(f"method must be one of {sorted(self._NEAR_DUP)}")
        fdedup.release_cached()
        return self._NEAR_DUP[method](df, **kw)

    def dedup_near(
        self,
        df: DataFrame,
        method: str = "minhash_verified",
        id_col: str = "doc_id",
        keep_by: str | None = None,
        keep: str = "max",
        **kw,
    ) -> DataFrame:
        """Near-dedup end-to-end: pairs → connected components → keep one
        winner per cluster (full rows never shuffle).  Default winner is
        the min id; ``keep_by=<column>`` keeps the best-scoring member
        instead (keep the longest / highest-quality duplicate — see
        functions/dedup.dedup_by_components)."""
        import inspect

        from pyspark.sql import functions as F
        from pyspark.sql.types import IntegralType

        if method not in self._NEAR_DUP:
            raise ValueError(f"method must be one of {sorted(self._NEAR_DUP)}")
        fn = self._NEAR_DUP[method]
        if "id_col" in inspect.signature(fn).parameters:
            pairs = self.near_dup_pairs(df, method=method, id_col=id_col, **kw)
            return fdedup.dedup_by_components(
                df, pairs, id_col=id_col, keep_by=keep_by, keep=keep
            )
        # media methods (image/audio) key on key_col=/bytes_col= and emit
        # STRINGIFIED pair ids; the winner id is the media key.
        # connected_components runs natively on the stringified keys
        # (any orderable type) — integral keys are cast back to long
        # first so their winner stays the NUMERIC min ('10' < '9'
        # lexicographically would otherwise flip it)
        pairs = self.near_dup_pairs(df, method=method, **kw)
        key = kw.get("key_col", id_col)
        if isinstance(df.schema[key].dataType, IntegralType):
            pairs = pairs.select(
                F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
            )
        return fdedup.dedup_by_components(
            df, pairs, id_col=key, keep_by=keep_by, keep=keep
        )

    _TOPK = {
        "exact": fsim.cosine_topk,
        "lsh": fsim.lsh_topk,
        "lsh_verified": fsim.lsh_verified_topk,
        "ivf": fsim.ivf_topk,
        "sq8": fsim.cosine_topk_quantized,  # corpus must be pre-quantized
        "pq": fsim.pq_topk,  # corpus must be pre-encoded; pass codebooks=
    }

    def similar_topk(
        self, corpus: DataFrame, queries: DataFrame, k: int = 10, method: str = "exact", **kw
    ) -> DataFrame:
        """Top-k cosine neighbors per query: exact, LSH-ANN, verified-LSH
        or IVF probe path."""
        if method not in self._TOPK:
            raise ValueError(f"method must be one of {sorted(self._TOPK)}")
        return self._TOPK[method](corpus, queries, k=k, **kw)

    def probe_ann_index(self, path: str, queries: DataFrame, k: int = 10, **kw) -> DataFrame:
        """Top-k neighbors from a persisted IVF index — result-identical
        to similar_topk(method='ivf') for the same corpus/params, but
        the scan touches only the probed partitions."""
        return fsim.ivf_probe_index(self.spark, path, queries, k=k, **kw)

    def mix_corpus(
        self,
        df: DataFrame,
        rates: dict | None = None,
        alpha: float | None = None,
        group_col: str = "source",
        **kw,
    ) -> DataFrame:
        """Deterministic source-weighted corpus mixing: pass explicit
        ``rates`` (corpus.mixture_sample) or ``alpha`` to derive them
        by temperature sampling (corpus.temperature_rates — EAGER group
        count).  Exactly one of the two must be given."""
        if (rates is None) == (alpha is None):
            raise ValueError("pass exactly one of rates= or alpha=")
        if alpha is not None:
            rates = fcorpus.temperature_rates(df, group_col=group_col, alpha=alpha)
        return fcorpus.mixture_sample(df, rates, group_col=group_col, **kw)

    def duplicated_spans(self, df: DataFrame, **kw) -> DataFrame:
        """Cross-document duplicated-span detection (exact-substring
        dedup mode) — see functions.dedup.duplicated_spans.  Entry
        releases prior scoped caches (the near_dup_pairs convention:
        this op persist-scopes its positional-shingle table)."""
        fdedup.release_cached()
        return fdedup.duplicated_spans(df, **kw)

    def enrich_text(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """Stats + quality score + language-ID + fingerprint in one
        single-pass projection chain (all codegen expressions)."""
        out = ftext.add_text_stats(df, text_col)
        out = ftext.quality_score(out, text_col)
        out = ftext.language_id(out, text_col)
        return ftext.add_fingerprint(out, text_col)

    # -- Streaming (B19-B22) ------------------------------------------
    def stream_files(self, path: str, schema, **opts) -> DataFrame:
        """File-replay streaming source (readStream); compose with the
        same transforms, then drain with :meth:`stream_drain`."""
        from .streaming import ops as stops

        return stops.read_file_stream(self.spark, path, schema, **opts)

    def stream_drain(self, df: DataFrame, output_mode: str = "complete") -> DataFrame:
        """Run a streaming DataFrame to completion (availableNow) into a
        memory sink and return the result as a plain DataFrame — the
        deterministic batch-drain used by tests and backfills."""
        import tempfile
        import uuid

        from .streaming import ops as stops

        name = f"eng_sink_{uuid.uuid4().hex[:12]}"
        ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")
        try:
            stops.run_available_now(stops.write_stream_memory(df, name, output_mode), ckpt)
        finally:
            # availableNow ran to completion and the query is stopped; the
            # throwaway checkpoint is dead state — a long-lived Engine
            # must not accumulate one dir per drain
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
        return self.spark.table(name)

    # -- Scale tooling (skew + co-location) ---------------------------
    def join_bucketed(
        self, left_table: str, right_table: str, keys: list[str], how: str = "inner"
    ) -> DataFrame:
        return opscale.bucketed_join(self.spark, left_table, right_table, keys, how)

    def _maybe_register(self, name: str | None, df: DataFrame) -> DataFrame:
        if name:
            self.catalog.register(name, df)
        return df
