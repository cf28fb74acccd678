"""Streaming corpus curation: the LLM-data pipeline on the arrival model.

Applies the reference's event-driven shape (file arrival -> validate ->
branch -> serve; SURVEY §3.3) to training-data curation.  Each
activation drains newly landed document files and gates them:

    1. quality filter   (C4/Gopher thresholds; operators/text.py)
    1.5 decontamination (optional: k-gram overlap vs a static eval
                         suite, its shingle set computed once and
                         persisted; operators/decontam.py)
    2. exact-dup gate   (md5 fingerprint vs a narrow fingerprint
                         sidecar of everything accepted so far, plus
                         keep-min-id within the batch)
    3. near-dup gate    (``incremental_near_dup_pairs_indexed`` — new
                         batch vs the accumulated corpus's posting index
                         + within-batch, PPJoin machinery; drops the NEW
                         side of each pair so the accepted corpus never
                         changes retroactively)

Survivors append to the corpus; rejects land in quarantine with a
``reject_reason`` column.  The fingerprint sidecar is the same narrow
key-index pattern as the KPI pipeline's dup probe (pipeline.py) and is
compactable with ``sinks.maintenance.compact_unpartitioned``.

All four outputs publish through the idempotent per-epoch protocol of
``streaming/epochs.py`` (staged write -> epoch-named files -> commit
marker), so a foreachBatch epoch replay — full or after a partial
publish — never double-appends and never desyncs the sidecars from the
corpus.

Scale note: the near-dup gate never re-reads corpus text — accepted
documents' shingle postings append to a posting-index sidecar
(``doc_postings``; deterministic per doc, so append-only is exact), and
each activation reads that narrow index plus the batch: gate work is
O(batch x posting overlap) with history touched only through the index.
Both sidecars are compactable with
``sinks.maintenance.compact_unpartitioned``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.decontam import contaminated_ids, eval_shingle_set
from ..operators.dedup import doc_postings, incremental_near_dup_pairs_indexed
from ..operators.multimodal import (
    image_dhash_postings,
    incremental_image_near_dup_pairs,
)
from ..operators.similarity import (
    embedding_lsh_postings,
    incremental_embedding_near_dup_pairs,
)
from ..operators.text import (
    fingerprint,
    incremental_export_manifest,
    quality_filter,
)
from ..sources.readers import read_stream_csv
from .epochs import _fs, commit_epoch, epoch_committed, publish_epoch, read_epoch_dir


def read_sidecar_meta(spark: SparkSession, index_dir: str) -> dict | None:
    """Settings stamped next to a posting-index sidecar (JSON at
    ``<index_dir>.meta.json`` — OUTSIDE the dir, so compaction's
    directory swap never touches it).  ``None`` when never stamped."""
    fs, jvm = _fs(spark, index_dir)
    p = jvm.org.apache.hadoop.fs.Path(f"{index_dir.rstrip('/')}.meta.json")
    if not fs.exists(p):
        return None
    # one JVM-side copy, not a py4j round trip per byte (review r10)
    stream = fs.open(p)
    baos = jvm.java.io.ByteArrayOutputStream()
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
    finally:
        stream.close()
    return json.loads(bytes(baos.toByteArray()).decode("utf-8"))


def write_sidecar_meta(spark: SparkSession, index_dir: str, meta: dict) -> None:
    """(Re)stamp a sidecar's settings metadata (idempotent overwrite)."""
    fs, jvm = _fs(spark, index_dir)
    p = jvm.org.apache.hadoop.fs.Path(f"{index_dir.rstrip('/')}.meta.json")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode("utf-8")))
    finally:
        out.close()


def check_or_stamp_sidecar_meta(
    spark: SparkSession, index_dir: str, expected: dict
) -> None:
    """RAISE when a sidecar's stamped settings differ from the
    configured ones; stamp when absent (r9 verdict item 1).

    The failure class this kills is SILENT WRONG RESULTS: an LSH /
    banded-Hamming posting sidecar's bucket space is a function of its
    hash settings (n_tables, n_planes, dim / max_dist), so a pipeline
    restarted with a different setting — or the constructor default
    after an explicit setting — probes an INCOMPATIBLE bucket space and
    simply never matches historical rows again; every gate quietly lets
    every historical duplicate through.  Settings are therefore stamped
    at first construction/backfill and any later mismatch is an error,
    never a reinterpretation.  A deliberate bucket-space change goes
    through ``reindex_embedding_lsh_index`` (re-hash + atomic swap +
    restamp); a deliberate non-bucket change (e.g. ``threshold``, which
    affects verification only, not the index) can be acknowledged by
    restamping via ``write_sidecar_meta``.

    Note the one unknowable case: a sidecar created BEFORE metadata
    stamping existed is stamped with whatever the current constructor
    says — if that already differs from the settings that built the
    sidecar, the mismatch predates the stamp and cannot be detected
    here (rebuild via reindex/backfill if in doubt)."""
    found = read_sidecar_meta(spark, index_dir)
    if found is None:
        write_sidecar_meta(spark, index_dir, expected)
        return
    if found != expected:
        diff = {
            k: {"stamped": found.get(k), "configured": expected.get(k)}
            for k in sorted(set(found) | set(expected))
            if found.get(k) != expected.get(k)
        }
        raise ValueError(
            f"sidecar index settings mismatch for {index_dir}: {diff} — "
            "the stamped settings are FIXED for the life of the posting "
            "sidecar (a different bucket space silently misses every "
            "historical duplicate).  Either construct the pipeline with "
            "the stamped settings, or migrate the sidecar deliberately "
            "(reindex_embedding_lsh_index for the embedding LSH index; "
            "write_sidecar_meta to acknowledge a verification-only "
            "change such as threshold)."
        )


DOCS_ARRIVAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


class CorpusCurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        corpus_dir: str,
        quarantine_dir: str,
        checkpoint_dir: str,
        schema: T.StructType = DOCS_ARRIVAL_SCHEMA,
        near_dup_threshold: float = 0.5,
        quality_kwargs: dict | None = None,
        max_shingle_df: int | None = 10_000,
        eval_docs: DataFrame | None = None,
        decontam_k: int = 3,
        decontam_min_hits: int = 1,
        reliable_checkpoints: bool = False,
        image_gate: bool = False,
        image_max_dist: int = 3,
        image_max_bucket_df: int | None = 10_000,
        manifest_token_budget: int | None = None,
        cluster_labels: bool = False,
        embedding_gate: bool = False,
        embedding_dim: int | None = None,
        embedding_threshold: float = 0.45,
        embedding_n_tables: int = 16,
        embedding_n_planes: int | None = 8,
        embedding_max_bucket_size: int | None = 10_000,
        embedder=None,
        instrument_io: bool = False,
    ):
        self.spark = spark
        self.landing_dir = landing_dir
        self.corpus_dir = corpus_dir
        self.quarantine_dir = quarantine_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.near_dup_threshold = near_dup_threshold
        self.quality_kwargs = quality_kwargs or {}
        # stop-shingle cap for the near-dup gate's candidate join: at
        # corpus scale a boilerplate shingle shared by millions of docs
        # would dominate the posting join; capping it costs only pairs
        # whose ENTIRE overlap is such shingles (verification stays
        # exact).  None = off (the oracle queries' parity setting).
        self.max_shingle_df = max_shingle_df
        # optional decontamination gate: the eval suite is static while
        # batches keep arriving, so its shingle set is computed ONCE and
        # persisted for the life of the pipeline (it is the broadcast
        # side of every batch's semi-join — see operators/decontam.py)
        self.decontam_k = decontam_k
        self.decontam_min_hits = decontam_min_hits
        self._eval_sh = (
            eval_shingle_set(eval_docs, k=decontam_k, hashed=True).persist()
            if eval_docs is not None
            else None
        )
        # durability of the intra-gate pins (see _pin): localCheckpoint
        # stores blocks unreplicated on executors, so an executor loss
        # (or dynamic-allocation decommission) mid-gate fails the
        # micro-batch — which then RETRIES from the idempotent epoch
        # protocol, so nothing is lost, only re-spent.  For long-lived
        # production jobs where a mid-batch executor loss is routine,
        # pass reliable_checkpoints=True and set
        # ``spark.sparkContext.setCheckpointDir(...)``: pins then write
        # to the (replicated) checkpoint dir and survive executor loss
        # at the cost of one fs round-trip per pin.
        self.reliable_checkpoints = reliable_checkpoints
        # optional multimodal gate (r5 verdict item 3): arrivals whose
        # IMAGE payload is perceptually near-identical (banded dHash,
        # Hamming <= image_max_dist) to anything accepted so far — or to
        # a lower-id arrival in the same batch — are quarantined.  The
        # accepted history is touched only through an append-only
        # band-posting sidecar (image_dhash_postings; deterministic per
        # payload), the incremental_near_dups shape on hamming_band_keys
        # output.  Payloads follow the repo's opaque-payload convention:
        # the document's UTF-8 bytes (a real deployment reads a binary
        # column off the arrival schema instead — swap _image_media).
        #
        # image_max_bucket_df caps pathological probe buckets (a stream
        # of black frames) at the cost of missing pairs whose every
        # shared key is over-cap.  NOTE the default DIFFERS from the
        # batch operators: every batch near-dup operator defaults
        # max_bucket_df=None (lossless, oracle parity), but an unattended
        # stream must bound per-activation latency even when a burst of
        # constant images lands, so the gate ships with the cap ON
        # (10_000).  Pass image_max_bucket_df=None for strict parity
        # with the batch image_near_dups filter.
        #
        # Enabling image_gate on a pipeline that already accepted epochs
        # starts from whatever dHash sidecar exists — history accepted
        # BEFORE the flag was turned on was never indexed and would
        # silently never match.  Run backfill_image_dhash_index() once
        # after enabling the flag to index that pre-gate history.
        self.image_gate = image_gate
        self.image_max_dist = image_max_dist
        self.image_max_bucket_df = image_max_bucket_df
        # optional continuous export manifest (r7): when set, every
        # epoch's survivors are assigned to training shards CONTINUING
        # the global cumulative token count (incremental_export_manifest
        # — assignments never reshuffle history; the offset is the
        # manifest sidecar's token total, read per activation as one
        # narrow aggregate).  Published through the same idempotent
        # epoch protocol as the corpus, so replays never double-assign.
        # Enabling it on a pipeline with already-accepted epochs starts
        # the offset at 0 and leaves pre-flag history unassigned — run
        # backfill_export_manifest() once after enabling (same gap and
        # same remedy as the image gate's dHash sidecar).
        self.manifest_token_budget = manifest_token_budget
        # optional incremental duplicate-cluster labels (r7 verdict item
        # 4): the gates DROP new duplicates (correct for curation), but
        # downstream retention/audit queries want cluster LABELS over
        # the evolving dup graph.  When on, each epoch's new near-dup
        # pair edges (text gate, plus image gate when enabled) merge
        # into a label sidecar via incremental_connected_components —
        # only components touched by a new edge are relabeled, so
        # per-epoch cost is bounded by the affected-subgraph size, not
        # the accumulated graph.  The sidecar is append-only (updated
        # rows stamped with the epoch); the current labeling is
        # last-writer-wins per id (``resolved_cluster_labels``) and is
        # pytest-pinned equal to a batch CC recompute over the union of
        # every epoch's edges.
        self.cluster_labels = cluster_labels
        # optional SEMANTIC near-dup gate (r8 verdict item 3): arrivals
        # whose embedding cosine vs anything accepted so far — or vs a
        # lower-id batchmate — clears embedding_threshold are
        # quarantined (reject reason ``semantic_near_dup``).  The
        # paraphrase-duplicate case: identical meaning, disjoint
        # shingles, so the text gate never fires.  Accepted history is
        # touched only through TWO narrow append-only sidecars — an LSH
        # posting index (embedding_lsh_postings; deterministic per
        # vector, the doc_postings/dHash pattern) and a vector store
        # for exact-cosine verification of the bucketed candidates
        # (incremental_embedding_near_dup_pairs: per-activation work is
        # O(batch x bucket occupancy), never O(history); the
        # candidate-ID set broadcasts into a map-side semi-join that
        # plucks just the needed vectors, so history is scanned,
        # never shuffled).
        #
        # Embeddings come from the batch's ``embedding`` column when
        # the arrival schema carries one; otherwise pass ``embedder``
        # (batch -> batch + ``embedding array<float>``, e.g. a model
        # Pandas UDF) — applied once per epoch, AFTER the cheaper
        # gates have already shrunk the batch.
        #
        # embedding_n_planes is FIXED for the life of the posting
        # sidecar (bucket spaces of different plane counts are
        # incompatible); the lived-in settings are STAMPED next to the
        # sidecar (<dir>.meta.json) and any mismatch at construction
        # RAISES — see check_or_stamp_sidecar_meta.  ``None`` adopts
        # the stamped plane count when one exists, else auto-sizes from
        # the accepted-corpus count via lsh_planes_for_corpus (one O(1)
        # count at construction) and stamps the result — so
        # enable-later on a large corpus picks the production rule, and
        # a restart never has to repeat the explicit setting.  A
        # sidecar that outgrows its sizing migrates through
        # ``reindex_embedding_lsh_index``.  The bucket cap defaults ON
        # (like the image gate): an unattended stream must bound
        # per-activation latency even when a burst of near-constant
        # embeddings lands.  Enabling the gate on a pipeline with
        # already-accepted epochs leaves pre-flag history invisible to
        # it — run backfill_embedding_lsh_index() once, same gap and
        # remedy as the image gate.
        self.embedding_gate = embedding_gate
        if embedding_gate and not embedding_dim:
            raise ValueError("embedding_gate=True requires embedding_dim")
        self.embedding_dim = embedding_dim
        self.embedding_threshold = embedding_threshold
        self.embedding_n_tables = embedding_n_tables
        self.embedding_max_bucket_size = embedding_max_bucket_size
        self.embedder = embedder
        self.emb_post_index_dir = f"{corpus_dir.rstrip('/')}_lshidx"
        self.emb_vec_index_dir = f"{corpus_dir.rstrip('/')}_embidx"
        self.cc_label_dir = f"{corpus_dir.rstrip('/')}_cclabels"
        self.fp_index_dir = f"{corpus_dir.rstrip('/')}_fpidx"
        self.manifest_dir = f"{corpus_dir.rstrip('/')}_manifest"
        self.post_index_dir = f"{corpus_dir.rstrip('/')}_postidx"
        self.dhash_index_dir = f"{corpus_dir.rstrip('/')}_dhashidx"
        self.epoch_marker_dir = f"{corpus_dir.rstrip('/')}_epochs"
        if embedding_gate:
            # misconfiguration must fail at construction, not mid-epoch
            # with a raw AnalysisException deep in the pair plan (the
            # backfill helper already raised explicitly; ADVICE r9)
            if embedder is None and "embedding" not in schema.fieldNames():
                raise ValueError(
                    "embedding_gate=True but the arrival schema has no "
                    "'embedding' column and no embedder is set"
                )
            if embedding_n_planes is None:
                stamped = read_sidecar_meta(spark, self.emb_post_index_dir)
                if stamped is not None:
                    embedding_n_planes = stamped["n_planes"]
                else:
                    from ..operators.similarity import lsh_planes_for_corpus

                    corpus = read_epoch_dir(spark, corpus_dir)
                    n_corpus = corpus.count() if corpus is not None else 0
                    embedding_n_planes = lsh_planes_for_corpus(n_corpus)
                    if n_corpus == 0:
                        # a FRESH deployment has nothing to size from:
                        # the recall floor gets stamped and is STICKY
                        # (every later None-restart adopts it), so the
                        # gate quietly runs dense as history grows
                        # (review r10).  Warn, don't raise — the floor
                        # is correct for small corpora and the reindex
                        # op is the growth remedy.
                        import warnings

                        warnings.warn(
                            "embedding_n_planes=None with an EMPTY corpus: "
                            f"stamping the recall floor ({embedding_n_planes} "
                            "planes) as the sidecar's fixed bucket space.  "
                            "For a new production deployment pass an explicit "
                            "lsh_planes_for_corpus(<target corpus size>), or "
                            "run reindex_embedding_lsh_index() once history "
                            "accumulates.",
                            stacklevel=2,
                        )
            check_or_stamp_sidecar_meta(
                spark,
                self.emb_post_index_dir,
                {
                    "kind": "embedding_lsh",
                    "n_tables": embedding_n_tables,
                    "n_planes": embedding_n_planes,
                    "dim": embedding_dim,
                    "threshold": embedding_threshold,
                },
            )
        self.embedding_n_planes = embedding_n_planes
        if image_gate:
            check_or_stamp_sidecar_meta(
                spark,
                self.dhash_index_dir,
                {"kind": "image_dhash", "max_dist": image_max_dist},
            )
        # per-STAGE shuffle-write attribution (r9 verdict item 3): when
        # on, each gate/publish stage's executor-counter delta lands in
        # the epoch's stats record under ``stage_io`` — how the
        # composition probe names which stage owns a per-epoch cost
        # slope.  Off by default: every mark drains the async listener
        # queue (up to 10 s on a stalled bus), measurement overhead a
        # production stream shouldn't pay.
        self.instrument_io = instrument_io
        self.stats: list[dict] = []

    def _io_counters(self) -> int:
        """Cumulative shuffle-write bytes summed over ALL executors,
        listener-drained (``observability.executor_io_totals`` — the
        shared bench/probe helper, so the attribution is correct on a
        multi-executor cluster, not just local mode); a failed drain
        degrades one stage's attribution, never the epoch."""
        from ..observability import executor_io_totals

        return executor_io_totals(self.spark)[1]

    def _mark_stage(self, name: str) -> None:
        """Record the shuffle-write delta since the previous mark as
        ``name``'s cost (no-op unless ``instrument_io``)."""
        if not self.instrument_io:
            return
        now = self._io_counters()
        self._stage_io[name] = self._stage_io.get(name, 0) + (now - self._last_io)
        self._last_io = now

    def _pin(self, df: DataFrame) -> DataFrame:
        """Materialize an intermediate once and truncate its lineage
        (the gate layers reference their parents repeatedly; see _gate).
        Reliable mode trades a checkpoint-dir write for executor-loss
        durability; local mode trades durability for speed."""
        if self.reliable_checkpoints:
            if self.spark.sparkContext.getCheckpointDir() is None:
                raise ValueError(
                    "reliable_checkpoints=True requires "
                    "spark.sparkContext.setCheckpointDir(...)"
                )
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # -- helpers ---------------------------------------------------------

    def _read_or_none(self, path: str, epoch_id: int) -> DataFrame | None:
        # explicit existence/listing probe instead of a blanket except:
        # a transient storage error must propagate (silently treating
        # it as "first activation" would disable the dup gates for the
        # batch and permanently accept duplicates — round-2 ADVICE).
        # The current epoch's files are excluded so a replay of a
        # partially published epoch sees exactly the pre-epoch history.
        return read_epoch_dir(self.spark, path, exclude_epoch=epoch_id)

    def _quarantine(self, rows: DataFrame, reason: str) -> None:
        self._pending_quarantine.append(
            rows.withColumn("reject_reason", F.lit(reason))
        )

    def _image_media(self, docs: DataFrame) -> DataFrame:
        """Docs -> opaque-payload media rows for the image gate (the
        batch queries' convention: UTF-8 bytes stand in for image
        payloads; swap this for a binary arrival column in a real
        deployment)."""
        return docs.select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.encode("text", "UTF-8").alias("payload"),
        )

    # reserved epoch id for backfill publishes: streaming epoch ids are
    # >= 0, so "epoch-1-*" files can never collide with a real epoch
    BACKFILL_EPOCH = -1

    def backfill_image_dhash_index(self) -> int:
        """Index pre-gate history into the image gate's dHash sidecar.

        The sidecar is appended per accepted epoch, so corpus rows
        accepted BEFORE ``image_gate`` was enabled are invisible to the
        gate (a dup of them streams straight through).  This helper
        hashes exactly the corpus docs with no sidecar rows from a
        committed streaming epoch and publishes their postings under the
        reserved ``BACKFILL_EPOCH``.

        Idempotent AND cumulative: the missing set is recomputed against
        the streaming-published sidecar rows only (the previous
        backfill's own ``epoch-1-*`` files are excluded from the diff),
        so a re-run republishes the full pre-gate set rather than
        diffing against — and then clobbering — its own earlier output.
        Returns the number of docs (re)indexed.
        """
        corpus = read_epoch_dir(self.spark, self.corpus_dir)
        if corpus is None:
            return 0
        media = self._image_media(corpus)
        streamed = read_epoch_dir(
            self.spark, self.dhash_index_dir, exclude_epoch=self.BACKFILL_EPOCH
        )
        if streamed is not None:
            media = media.join(
                streamed.select("media_id").dropDuplicates(),
                "media_id",
                "left_anti",
            )
        media = self._pin(media)  # counted AND hashed — one materialization
        n_docs = media.count()
        if n_docs:
            publish_epoch(
                image_dhash_postings(media, max_dist=self.image_max_dist),
                self.dhash_index_dir,
                self.BACKFILL_EPOCH,
            )
        return n_docs

    def reindex_image_dhash_index(self, new_max_dist: int) -> int:
        """Migrate the image gate's banded-Hamming sidecar to a new
        ``max_dist`` — the dHash analogue of
        ``reindex_embedding_lsh_index``.  The band space is REGIME
        (not value) determined (``dedup.hamming_band_keys``: block
        triples for d <= 3, byte bands for 4..7, nibble bands for
        8..15), so postings are physically identical within a regime:
        a within-regime change (say 3 -> 2) only tightens the
        verification radius and could be acknowledged with a bare
        ``write_sidecar_meta`` restamp — running this op for it is
        correct, just a wasted re-hash.  A regime CROSSING (3 -> 4)
        genuinely rebuilds the band space and requires it.  Unlike the
        embedding index there is no separate
        signature sidecar to replay: dHashes recompute from the corpus
        payloads directly (``_image_media``), so the migration re-hashes
        the whole accepted corpus once, swaps the posting dir
        atomically, restamps the metadata, and adopts the new setting.
        Returns the number of docs re-indexed.

        Same operational contract as the embedding reindex: run ONLY
        with the stream stopped (replace_table reader race; swapped
        files lose their epoch-N naming, safe for committed history
        only), and a crash between swap and restamp raises loudly at
        the next construction — re-run to converge."""
        if not self.image_gate:
            raise ValueError("image_gate is not set on this pipeline")
        from ..sinks.maintenance import replace_table
        from .epochs import path_exists

        corpus = read_epoch_dir(self.spark, self.corpus_dir)
        n_docs = 0
        if corpus is not None:
            media = self._pin(self._image_media(corpus))
            n_docs = media.count()
            posts = self._pin(image_dhash_postings(media, max_dist=new_max_dist))
            if path_exists(self.spark, self.dhash_index_dir):
                replace_table(self.spark, self.dhash_index_dir, posts)
            else:
                # gate never published (enable-later before any epoch or
                # backfill): this IS the backfill, under its epoch id
                publish_epoch(posts, self.dhash_index_dir, self.BACKFILL_EPOCH)
        self.image_max_dist = new_max_dist
        write_sidecar_meta(
            self.spark,
            self.dhash_index_dir,
            {"kind": "image_dhash", "max_dist": new_max_dist},
        )
        return n_docs

    def backfill_embedding_lsh_index(self) -> int:
        """Index pre-gate history into the embedding gate's two
        sidecars (LSH postings + vector store) — the
        ``backfill_image_dhash_index`` remedy for the same gap: corpus
        rows accepted BEFORE ``embedding_gate`` was enabled are
        invisible to the gate (a paraphrase dup of them streams
        straight through).  Embeds exactly the corpus docs missing from
        the vector sidecar's streaming-published rows and publishes
        both sidecars under ``BACKFILL_EPOCH``.  Idempotent and
        cumulative, same as the dHash backfill.  Requires ``embedder``
        (or an ``embedding`` column already on the corpus schema).
        Returns the number of docs (re)indexed."""
        if not self.embedding_gate:
            raise ValueError("embedding_gate is not set on this pipeline")
        corpus = read_epoch_dir(self.spark, self.corpus_dir)
        if corpus is None:
            return 0
        streamed = read_epoch_dir(
            self.spark, self.emb_vec_index_dir, exclude_epoch=self.BACKFILL_EPOCH
        )
        if streamed is not None:
            corpus = corpus.join(
                streamed.select("doc_id").dropDuplicates(), "doc_id", "left_anti"
            )
        if self.embedder is not None:
            corpus = self.embedder(corpus)
        elif "embedding" not in corpus.columns:
            raise ValueError(
                "backfill_embedding_lsh_index: corpus has no embedding "
                "column and no embedder is set"
            )
        vecs = self._pin(corpus.select("doc_id", "embedding"))
        n_docs = vecs.count()
        if n_docs:
            publish_epoch(vecs, self.emb_vec_index_dir, self.BACKFILL_EPOCH)
            publish_epoch(
                embedding_lsh_postings(
                    vecs,
                    self.embedding_dim,
                    id_col="doc_id",
                    vec_col="embedding",
                    n_tables=self.embedding_n_tables,
                    n_planes=self.embedding_n_planes,
                ),
                self.emb_post_index_dir,
                self.BACKFILL_EPOCH,
            )
        return n_docs

    def reindex_embedding_lsh_index(
        self, new_n_planes: int | None = None, new_n_tables: int | None = None
    ) -> int:
        """Migrate the embedding gate's LSH posting sidecar to a new
        bucket space (r9 verdict item 2): re-hash every accepted vector
        (the ``_embidx`` sidecar — vectors are never re-embedded), swap
        the posting dir atomically (``replace_table``, the
        ``compact_cluster_labels`` pattern), restamp the settings
        metadata, and adopt the new settings on this pipeline.  Returns
        the plane count now in force.

        WHY this exists: plane count is sized for a TARGET corpus
        (``lsh_planes_for_corpus``), but targets get outgrown — at a
        fixed plane count, bucket occupancy and hence the gate's
        per-epoch candidate work grow linearly with accepted history.
        ``new_n_planes=None`` auto-sizes from the CURRENT accepted
        count, so calling this periodically restores the
        O(batch x target_bucket_size) per-epoch bound.

        Pair semantics are EQUIVALENT, not just similar: the LSH index
        only generates candidates; every pair is exact-cosine verified,
        so any bucket space with adequate recall yields the same
        verified pairs (pytest pins a planted dup caught across a
        reindex).  Recall does drop as planes grow — that is the same
        deliberate trade the batch operator documents.

        Run ONLY with the stream stopped: ``replace_table`` has a
        reader-race window, and the swapped files lose their epoch-N
        naming — safe for committed history (a committed epoch never
        replays), unsafe for an epoch in flight (its replay exclusion
        and partial-publish cleanup key off the file prefix).  A crash
        between the swap and the metadata restamp leaves the stamp
        stale — the next construction then RAISES (loud, never silent);
        re-run the reindex with the same settings to converge."""
        if not self.embedding_gate:
            raise ValueError("embedding_gate is not set on this pipeline")
        from ..operators.similarity import lsh_planes_for_corpus
        from ..sinks.maintenance import replace_table

        n_tables = self.embedding_n_tables if new_n_tables is None else new_n_tables
        vecs = read_epoch_dir(self.spark, self.emb_vec_index_dir)
        if new_n_planes is None:
            new_n_planes = lsh_planes_for_corpus(
                vecs.count() if vecs is not None else 0
            )
        if vecs is not None:
            posts = self._pin(
                embedding_lsh_postings(
                    vecs.select("doc_id", "embedding"),
                    self.embedding_dim,
                    id_col="doc_id",
                    vec_col="embedding",
                    n_tables=n_tables,
                    n_planes=new_n_planes,
                )
            )
            replace_table(self.spark, self.emb_post_index_dir, posts)
        self.embedding_n_tables = n_tables
        self.embedding_n_planes = new_n_planes
        write_sidecar_meta(
            self.spark,
            self.emb_post_index_dir,
            {
                "kind": "embedding_lsh",
                "n_tables": n_tables,
                "n_planes": new_n_planes,
                "dim": self.embedding_dim,
                "threshold": self.embedding_threshold,
            },
        )
        return new_n_planes

    def backfill_export_manifest(self) -> int:
        """Assign PRE-FLAG corpus history into the export manifest.

        Corpus docs accepted before ``manifest_token_budget`` was set
        have no shard assignment.  This assigns exactly the missing
        docs, CONTINUING the manifest's current token total, and
        publishes under ``BACKFILL_EPOCH``.  Safe to re-run: a second
        call finds nothing missing and publishes nothing.

        Assignments must never change once written, so if a previous
        backfill exists AND new unassigned history has appeared since
        (the flag was disabled and re-enabled across epochs), the
        helper REFUSES rather than overwrite the earlier backfill's
        epoch files — avoid the disable/re-enable window, or publish
        the gap manually under a fresh reserved epoch.

        CONCURRENCY: run with the stream STOPPED (or no epoch in
        flight).  The start offset is a sum over the manifest sidecar
        read at entry; a gate epoch publishing between that read and
        this publish would be assigned the SAME offset, giving two
        shards overlapping global token ranges.  As a backstop the
        helper re-lists the manifest dir immediately before publishing
        and REFUSES if any manifest file appeared or vanished since the
        offset read — same spirit as the immutability refusal above.
        Returns the number of docs assigned.
        """
        if self.manifest_token_budget is None:
            raise ValueError("manifest_token_budget is not set on this pipeline")
        corpus = read_epoch_dir(self.spark, self.corpus_dir)
        if corpus is None:
            return 0
        from .epochs import _fs

        fs, jvm = _fs(self.spark, self.manifest_dir)
        root = jvm.org.apache.hadoop.fs.Path(self.manifest_dir)

        def _manifest_files() -> frozenset:
            if not fs.exists(root):
                return frozenset()
            return frozenset(
                st.getPath().getName() for st in fs.listStatus(root)
            )

        seen_at_read = _manifest_files()
        docs = corpus.select("doc_id", "text")
        start = 0
        existing = read_epoch_dir(self.spark, self.manifest_dir)
        if existing is not None:
            docs = docs.join(existing.select("doc_id"), "doc_id", "left_anti")
            start = existing.agg(F.sum("n_tokens")).collect()[0][0] or 0
        docs = self._pin(docs)
        n_docs = docs.count()
        if n_docs == 0:
            return 0
        if any(
            name.startswith(f"epoch{self.BACKFILL_EPOCH}-") for name in seen_at_read
        ):
            raise ValueError(
                "backfill_export_manifest: a previous backfill exists and new "
                "unassigned history has appeared — refusing to overwrite its "
                "epoch files (assignments are immutable once written)"
            )
        if _manifest_files() != seen_at_read:
            raise ValueError(
                "backfill_export_manifest: the manifest changed between the "
                "offset read and the publish (a stream epoch is in flight?) — "
                "refusing: the computed start offset would overlap the "
                "concurrent epoch's token range.  Stop the stream and re-run."
            )
        publish_epoch(
            incremental_export_manifest(
                docs,
                start_offset_tokens=int(start),
                shard_token_budget=self.manifest_token_budget,
            ),
            self.manifest_dir,
            self.BACKFILL_EPOCH,
        )
        return n_docs

    # -- the gate --------------------------------------------------------

    def _gate(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if epoch_committed(self.spark, self.epoch_marker_dir, epoch_id):
            return  # post-success replay (checkpoint lagged the publish)
        # localCheckpoint (not persist): the gate layers each reference
        # their parents several times, and Spark's plan-string generation
        # re-prints a subtree PER REFERENCE — with 4+ layered gates the
        # SQL-listener explain work grows exponentially in gate depth
        # (measured: a streaming thread spending minutes inside
        # TreeNode.generateTreeString).  Checkpointing collapses each
        # layer to a leaf: plans stay O(layer), and the micro-batch is
        # materialized once instead of recomputed per consumer.
        batch = self._pin(batch_df)
        self._gate_pinned(batch, epoch_id)

    def _gate_pinned(self, batch: DataFrame, epoch_id: int) -> None:
        self._stage_io: dict[str, int] = {}
        if self.instrument_io:
            self._last_io = self._io_counters()
        n_arrived = batch.count()
        self._mark_stage("arrival")
        # rejects accumulate lazily and publish once, idempotently, in
        # step 4 — a mid-gate crash must not leave half an epoch's
        # quarantine appended (see streaming/epochs.py)
        self._pending_quarantine: list[DataFrame] = []

        # 1. quality gate
        passed = self._pin(quality_filter(batch, **self.quality_kwargs))
        n_quality = passed.count()
        self._mark_stage("quality")
        self._quarantine(batch.join(passed, "doc_id", "left_anti"), "quality")

        # 1.5 decontamination gate (optional): docs sharing eval-set
        # k-grams are quarantined BEFORE any dedup work is spent on them
        if self._eval_sh is not None:
            bad = contaminated_ids(
                passed,
                self._eval_sh,
                k=self.decontam_k,
                min_hits=self.decontam_min_hits,
            )
            self._quarantine(
                passed.join(bad, "doc_id", "left_semi"), "contaminated"
            )
            clean = self._pin(passed.join(bad, "doc_id", "left_anti"))
        else:
            clean = passed
        n_decontam = clean.count() if self._eval_sh is not None else n_quality
        self._mark_stage("decontam")

        # 2. exact-dup gate: against history (fingerprint sidecar), then
        # keep-min-id within the batch
        fps = clean.join(fingerprint(clean), "doc_id")  # + fp column
        seen = self._read_or_none(self.fp_index_dir, epoch_id)
        if seen is not None:
            # probed-keys rule (the r9/r10 attribution discipline every
            # gate follows): the fp sidecar grows with accepted history,
            # and joining `fps` against it directly would shuffle the
            # whole sidecar every epoch once it outgrows the broadcast
            # threshold.  Restrict history MAP-SIDE to the batch's
            # broadcast fp set first — the survivors of that semi-join
            # are <= batch-sized by construction and broadcast into
            # both the quarantine semi-join and the keep anti-join
            # (pinned: one history scan, two consumers).  The hints are
            # batch-size-gated (review r10): a jumbo epoch's fp set
            # (~50 B/doc -> ~100 MB at the 2M bar) must not be forced
            # through the driver into an oversized broadcast — above
            # the bar the hints drop away and the optimizer plans the
            # joins (history may shuffle that epoch; correctness
            # unchanged).
            bcast = (lambda d: F.broadcast(d)) if n_decontam <= 2_000_000 else (lambda d: d)
            seen_hit = self._pin(
                seen.select("fp")
                .join(bcast(fps.select("fp").dropDuplicates()), "fp", "left_semi")
                .dropDuplicates()
            )
            hist_dup = fps.join(bcast(seen_hit), "fp", "left_semi")
            self._quarantine(hist_dup.drop("fp"), "exact_dup")
            fps = fps.join(bcast(seen_hit), "fp", "left_anti")
        keep_min = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        batch_dup = fps.join(keep_min, ["fp", "doc_id"], "left_anti")
        self._quarantine(batch_dup.drop("fp"), "exact_dup")
        fresh = self._pin(fps.join(keep_min, ["fp", "doc_id"], "left_semi"))
        n_exact = fresh.count()
        self._mark_stage("exact_dup")

        # 3. near-dup gate: new batch vs the posting index + within batch
        posts = self._read_or_none(self.post_index_dir, epoch_id)
        if posts is None:
            posts = self.spark.createDataFrame(
                [], "doc_id long, n_sh int, shingle long"
            )
        pairs = incremental_near_dup_pairs_indexed(
            posts, fresh.select("doc_id", "text"),
            threshold=self.near_dup_threshold,
            max_shingle_df=self.max_shingle_df,
        )
        if self.cluster_labels:
            # the pair relation feeds TWO consumers when labels are on
            # (the drop set here, the label update in 3.75) — pin it so
            # the posting join runs once per epoch, not once per use
            pairs = self._pin(pairs)
        new_ids = fresh.select("doc_id").withColumnRenamed("doc_id", "nid")
        # drop the NEW side of every pair: id_b when new, else id_a
        # (id_a < id_b and the pair touches >= 1 new doc by construction)
        drop = (
            pairs.join(new_ids, pairs.id_b == F.col("nid"), "left_semi")
            .select(F.col("id_b").alias("doc_id"))
            .unionByName(
                pairs.join(new_ids, pairs.id_b == F.col("nid"), "left_anti").select(
                    F.col("id_a").alias("doc_id")
                )
            )
            .dropDuplicates()
        )
        self._quarantine(
            fresh.drop("fp").join(drop, "doc_id", "left_semi"), "near_dup"
        )
        survivors = self._pin(fresh.join(drop, "doc_id", "left_anti"))
        self._mark_stage("text_near_dup")

        # 3.5 image near-dup gate (optional): banded dHash of each
        # survivor's payload vs the accepted-history posting sidecar +
        # within batch; drops the NEW side of every pair (same rule as
        # the text gate, so the accepted corpus never changes
        # retroactively)
        if self.image_gate:
            iposts = self._read_or_none(self.dhash_index_dir, epoch_id)
            if iposts is None:
                iposts = self.spark.createDataFrame(
                    [], "media_id long, band int, val long, h long"
                )
            ipairs = incremental_image_near_dup_pairs(
                iposts,
                self._image_media(survivors),
                max_dist=self.image_max_dist,
                max_bucket_df=self.image_max_bucket_df,
            ).select(
                F.col("media_id_a").alias("id_a"), F.col("media_id_b").alias("id_b")
            )
            if self.cluster_labels:
                ipairs = self._pin(ipairs)  # two consumers, same as pairs
            new_ids_i = survivors.select(F.col("doc_id").alias("nid"))
            dropi = (
                ipairs.join(new_ids_i, ipairs.id_b == F.col("nid"), "left_semi")
                .select(F.col("id_b").alias("doc_id"))
                .unionByName(
                    ipairs.join(
                        new_ids_i, ipairs.id_b == F.col("nid"), "left_anti"
                    ).select(F.col("id_a").alias("doc_id"))
                )
                .dropDuplicates()
            )
            self._quarantine(
                survivors.drop("fp").join(dropi, "doc_id", "left_semi"),
                "image_near_dup",
            )
            survivors = self._pin(survivors.join(dropi, "doc_id", "left_anti"))
            self._mark_stage("image_near_dup")

        # 3.6 semantic (embedding) near-dup gate (optional): LSH-bucket
        # the survivors' embeddings vs the accepted-history posting
        # sidecar + within batch, exact-cosine verify the candidates,
        # drop the NEW side of every verified pair (same rule as every
        # gate: the accepted corpus never changes retroactively)
        if self.embedding_gate:
            embedded = survivors
            if self.embedder is not None:
                embedded = self._pin(self.embedder(survivors))
            eposts = self._read_or_none(self.emb_post_index_dir, epoch_id)
            if eposts is None:
                eposts = self.spark.createDataFrame(
                    [], "doc_id long, bucket long"
                )
            evecs = self._read_or_none(self.emb_vec_index_dir, epoch_id)
            epairs = incremental_embedding_near_dup_pairs(
                eposts,
                evecs,
                embedded.select("doc_id", "embedding"),
                dim=self.embedding_dim,
                id_col="doc_id",
                vec_col="embedding",
                threshold=self.embedding_threshold,
                n_tables=self.embedding_n_tables,
                n_planes=self.embedding_n_planes,
                max_bucket_size=self.embedding_max_bucket_size,
            )
            if self.cluster_labels:
                epairs = self._pin(epairs)  # two consumers, same as pairs
            new_ids_e = survivors.select(F.col("doc_id").alias("nid"))
            drope = (
                epairs.join(new_ids_e, epairs.id_b == F.col("nid"), "left_semi")
                .select(F.col("id_b").alias("doc_id"))
                .unionByName(
                    epairs.join(
                        new_ids_e, epairs.id_b == F.col("nid"), "left_anti"
                    ).select(F.col("id_a").alias("doc_id"))
                )
                .dropDuplicates()
            )
            self._quarantine(
                survivors.drop("fp").join(drope, "doc_id", "left_semi"),
                "semantic_near_dup",
            )
            survivors = self._pin(survivors.join(drope, "doc_id", "left_anti"))
            # final survivors' vectors feed BOTH sidecar publishes
            emb_final = self._pin(
                embedded.select("doc_id", "embedding").join(
                    survivors.select("doc_id"), "doc_id", "left_semi"
                )
            )
            self._mark_stage("embedding_near_dup")
        n_accepted = survivors.count()

        # 3.75 incremental cluster labels (optional): fold this epoch's
        # new pair edges into the label sidecar, relabeling only the
        # components they touch.  Runs BEFORE publish so a replayed
        # epoch recomputes the identical update from the identical
        # pre-epoch history (the read excludes this epoch's rows).
        #
        # The update consumes the RAW sidecar rows, NOT the resolved
        # (max_by) labeling — resolving would shuffle the whole label
        # table every epoch.  Raw rows are safe star edges because
        # edges are append-only, so connectivity is MONOTONE: a stale
        # (id, comp) row connects vertices that were co-component at
        # some epoch and therefore still are; superseded rows only add
        # redundant edges to the reduced graph, never wrong ones, and
        # comp labels are member ids, so the min-id contract holds.
        # The per-epoch cost is then two broadcast semi-join SCANS of
        # the sidecar (map-side, no label shuffle) plus CC on the
        # affected subgraph; compact_cluster_labels() trims the scans.
        n_label_updates = 0
        if self.cluster_labels:
            from ..operators.components import (
                incremental_connected_components,
            )

            # pairs (and ipairs / epairs) are pinned above, so only a
            # union of several gates' edges needs a pin of its own
            edges = pairs.select("id_a", "id_b")
            if self.image_gate:
                edges = edges.unionByName(ipairs.select("id_a", "id_b"))
            if self.embedding_gate:
                edges = edges.unionByName(epairs.select("id_a", "id_b"))
            if self.image_gate or self.embedding_gate:
                edges = self._pin(edges)
            raw = read_epoch_dir(
                self.spark, self.cc_label_dir, exclude_epoch=epoch_id
            )
            updated = incremental_connected_components(
                raw.select("id", "comp") if raw is not None else None,
                edges,
                src="id_a",
                dst="id_b",
            ).withColumn("epoch", F.lit(epoch_id).cast("long"))
            updated = self._pin(updated)
            n_label_updates = updated.count()
            publish_epoch(updated, self.cc_label_dir, epoch_id)
            self._mark_stage("cluster_labels")

        # 4. publish: corpus rows + both sidecars (accepted only) +
        # quarantine, each an idempotent per-epoch publish; the commit
        # marker lands LAST, so a crash anywhere in between makes the
        # retried epoch converge to exactly one copy of every output
        publish_epoch(survivors.drop("fp"), self.corpus_dir, epoch_id)
        publish_epoch(survivors.select("fp"), self.fp_index_dir, epoch_id)
        publish_epoch(
            doc_postings(survivors.select("doc_id", "text")),
            self.post_index_dir,
            epoch_id,
        )
        self._mark_stage("publish_corpus")
        if self.image_gate:
            publish_epoch(
                image_dhash_postings(
                    self._image_media(survivors), max_dist=self.image_max_dist
                ),
                self.dhash_index_dir,
                epoch_id,
            )
            self._mark_stage("publish_image_idx")
        if self.embedding_gate:
            publish_epoch(emb_final, self.emb_vec_index_dir, epoch_id)
            publish_epoch(
                embedding_lsh_postings(
                    emb_final,
                    self.embedding_dim,
                    id_col="doc_id",
                    vec_col="embedding",
                    n_tables=self.embedding_n_tables,
                    n_planes=self.embedding_n_planes,
                ),
                self.emb_post_index_dir,
                epoch_id,
            )
            self._mark_stage("publish_emb_idx")
        if self.manifest_token_budget is not None:
            prev = self._read_or_none(self.manifest_dir, epoch_id)
            start = 0
            if prev is not None:
                start = prev.agg(F.sum("n_tokens")).collect()[0][0] or 0
            publish_epoch(
                incremental_export_manifest(
                    survivors.select("doc_id", "text"),
                    start_offset_tokens=int(start),
                    shard_token_budget=self.manifest_token_budget,
                ),
                self.manifest_dir,
                epoch_id,
            )
            self._mark_stage("manifest")
        rejects = self._pending_quarantine[0]
        for extra in self._pending_quarantine[1:]:
            rejects = rejects.unionByName(extra)
        publish_epoch(rejects, self.quarantine_dir, epoch_id)
        commit_epoch(self.spark, self.epoch_marker_dir, epoch_id)
        self._mark_stage("quarantine")

        rec = {
            "epoch": epoch_id,
            "arrived": n_arrived,
            "quality_pass": n_quality,
            "after_decontam": n_decontam,
            "after_exact": n_exact,
            "accepted": n_accepted,
            "label_updates": n_label_updates,
        }
        if self.instrument_io:
            rec["stage_io"] = dict(self._stage_io)
        self.stats.append(rec)
        # checkpointed blocks are freed when the frames are GC'd

    def compact_cluster_labels(self) -> int | None:
        """Collapse the label sidecar to its RESOLVED rows — one
        (id, comp, epoch) per id, keeping each id's winning epoch so
        last-writer-wins semantics are byte-preserved for future
        updates.  The sidecar otherwise accretes one superseded row per
        relabel (a vertex in a long-lived hot component is rewritten
        every epoch that touches it).

        Run ONLY with the stream stopped: the swap protocol
        (``sinks.maintenance.replace_table``) has a reader-race window,
        and compacted rows lose their epoch-N file naming — safe for
        committed history (a committed epoch never replays), unsafe for
        an epoch in flight (its replay-exclusion relies on the file
        prefix).  Returns the resolved row count, or None when no
        labels exist."""
        from ..sinks.maintenance import partition_file_stats, replace_table

        raw = read_epoch_dir(self.spark, self.cc_label_dir)
        if raw is None:
            return None
        # size the output like compact_unpartitioned: resolved bytes <=
        # raw bytes, so the raw dir's volume is a safe file-count bound
        stats = partition_file_stats(self.spark, self.cc_label_dir)
        n_bytes = sum(b for _, b in stats.values())
        n_out = max(1, -(-n_bytes // (128 * 1024 * 1024)))
        resolved = (
            raw.groupBy("id")
            .agg(
                F.expr("max_by(comp, epoch)").alias("comp"),
                F.max("epoch").alias("epoch"),
            )
            .coalesce(int(n_out))
            .localCheckpoint()  # materialized BEFORE the swap
        )
        n = resolved.count()
        replace_table(self.spark, self.cc_label_dir, resolved)
        return n

    def resolved_cluster_labels(
        self, exclude_epoch: int | None = None
    ) -> DataFrame | None:
        """Current duplicate-cluster labeling: last-writer-wins per id
        over the append-only label sidecar (one hash aggregate on the
        id key — the sidecar holds only vertices of the dup graph, a
        small fraction of the corpus).  ``None`` before any labels
        exist or when the flag was never enabled."""
        raw = read_epoch_dir(
            self.spark, self.cc_label_dir, exclude_epoch=exclude_epoch
        )
        if raw is None:
            return None
        return raw.groupBy("id").agg(
            F.expr("max_by(comp, epoch)").alias("comp")
        )

    def run_available_now(self, listener=None) -> None:
        """One activation: drain currently landed files, then stop."""
        if listener is not None:
            self.spark.streams.addListener(listener)
        try:
            stream = read_stream_csv(self.spark, self.landing_dir, self.schema)
            q = (
                stream.writeStream.foreachBatch(self._gate)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if listener is not None:
                self.spark.streams.removeListener(listener)
