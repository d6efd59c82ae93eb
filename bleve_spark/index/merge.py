"""Tiered segment merging — the reference's merge planner, as Spark jobs.

The offline builder merges groups of ≤10 segments per round until one
remains (/root/reference/index/scorch/builder.go:169-236; policy
envelope /root/reference/index/scorch/mergeplan/merge_plan.go:159-167).
Here one round = one shuffle keyed by (new_segment, field, term):
member chunks are decoded, doc-renumbered with per-member offsets, and
re-encoded sorted — log_fanin(#segments) rounds total, which is the
bounded-shuffle-rounds scale argument (10^12 docs / 5M-doc segments →
200k segments → 6 rounds).

Skew: a hot term's group = all its chunks in the member segments. Pass
``band_chunks`` to sub-key groups by bands of source chunks — group
size is then bounded by band_chunks · chunk_docs postings regardless of
term frequency (the salting knob for Zipfian tool/role terms; chunk ids
stay order-preserving, just not dense)."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from bleve_spark.index.segments import (
    SEG_SHIFT,
    DEFAULT_CHUNK_DOCS,
    PARETO_TF_CAP as _PARETO_CAP,
    _posting_schema,
    _seg_paths,
)
from bleve_spark.index.varint import (
    decode_positions,
    delta_decode_sorted,
    delta_encode_sorted,
    encode_positions,
    varint_decode,
    varint_encode,
)

LOCAL_MASK = (1 << SEG_SHIFT) - 1

# above this many total live deletions the merge stops collecting them
# to the driver and instead writes per-segment compact parquet that
# executors load lazily (the scorch merger's per-segment obsolete
# bitmap shape — memory is one segment's delete set per task, never
# the global union on the driver)
DELETE_BROADCAST_MAX = 2_000_000
# auto-banding: at most this many hot terms get per-term band
# predicates; beyond it the skew is pervasive and every term bands
_HOT_TERMS_MAX = 128


class _DeleteLookup:
    """seg → sorted np.int64 array of deleted LOCAL doc nums.

    Small delete sets ride inline (plain dict, broadcast with the
    closure).  Large sets read from ``path`` (parquet partitioned by
    seg), memoized per python worker — the executor-side twin of the
    reference merger loading one segment's obsolete bitmap at a time.
    """

    def __init__(self, inline: dict | None, path: str | None,
                 expected_counts: dict | None = None):
        self.inline = inline
        self.path = path
        # seg → expected deletion count (driver-computed): a missing
        # compact parquet dir for a segment that HAS deletions means
        # the path isn't visible on this executor — keeping the doc
        # silently would corrupt the remap offsets, so fail loudly
        self.expected = expected_counts or {}
        self._cache: dict = {}

    def get(self, seg: int):
        if self.path is None:
            return (self.inline or {}).get(seg)
        if seg not in self._cache:
            import pyarrow.parquet as pq

            d = os.path.join(self.path, f"seg={seg}")
            if not os.path.isdir(d):
                if self.expected.get(seg, 0) > 0:
                    raise FileNotFoundError(
                        f"delete set for segment {seg} expected "
                        f"({self.expected[seg]} deletions) but "
                        f"{d!r} is not visible on this executor — "
                        "the merge destination must be on shared "
                        "storage"
                    )
                self._cache[seg] = None
            else:
                t = pq.read_table(d, columns=["local"])
                self._cache[seg] = np.sort(
                    t.column("local").to_numpy().astype(np.int64)
                )
        return self._cache[seg]


def merge_level(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    fanin: int = 10,
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    band_chunks: int | str | None = None,
    rosters: list[list[int]] | None = None,
    delete_broadcast_max: int | None = None,
) -> list[dict]:
    """One merge round. Default grouping: segments in id order, ≤fanin
    per group (the offline-builder shape, builder.go:169-236). Pass
    ``rosters`` (lists of segment ids, e.g. from
    :func:`bleve_spark.index.mergeplan.plan_from_manifests`) to merge
    planner-chosen groups instead; unplanned segments carry over as
    singleton groups (copied forward).

    ``band_chunks="auto"``: hot terms (total postings across the
    inputs > config.MERGE_BAND_MIN_POSTINGS, found by one
    metadata-only aggregation — no blob IO) are sub-keyed into
    ~half-threshold-sized bands so one Zipfian term can never
    serialize the round on a single task; every OTHER term keeps the
    single-group fast path with dense chunk ids. Banded chunk ids are
    band·band_chunks + i — unique and (member, chunk)-ordered but
    deliberately sparse: readers prune on collected literal ids and
    order comparisons only, and skipping the dense-renumber window
    avoids re-shuffling every output byte a second time just because
    one term was hot.

    The band key member·2^40 + chunk_id is only collision-free while
    every banded input id is < 2^40, and a sparse id written by an
    earlier auto round is not (colliding keys fuse bands into
    duplicate, out-of-order output ids). So auto mode refuses to band
    a round with any input chunk_id ≥ 2^40: that round merges
    unbanded and writes dense ids, and the next round may band
    again."""
    t_start = time.time()
    from bleve_spark.index.segments import SegmentStore as _SS

    manifests = _SS(spark, src_root).manifests()
    manifests.sort(key=lambda m: m["segment_id"])

    if rosters is None:
        groups: list[list[dict]] = [
            manifests[i: i + fanin]
            for i in range(0, len(manifests), fanin)
        ]
    else:
        by_id = {m["segment_id"]: m for m in manifests}
        planned = {i for r in rosters for i in r}
        groups = [[by_id[i] for i in r] for r in rosters if r]
        groups += [
            [m] for m in manifests if m["segment_id"] not in planned
        ]
    # deletions to reclaim at this merge (scorch merger drops obsolete
    # docs and compacts doc numbers; ReclaimDeletesWeight exists for
    # exactly this). The driver only ever materializes PER-SEGMENT
    # COUNTS (needed for the remap offsets). The delete sets
    # themselves ride a driver broadcast only while small; past
    # ``delete_broadcast_max`` they are written as per-segment compact
    # parquet and loaded lazily on executors — billions of deletions
    # never touch driver memory.
    from bleve_spark.index.segments import SegmentStore

    cap = (DELETE_BROADCAST_MAX if delete_broadcast_max is None
           else int(delete_broadcast_max))
    src_store_for_dels = SegmentStore(spark, src_root)
    dels_df = src_store_for_dels.deletions()
    del_counts: dict[int, int] = {}
    lookup = _DeleteLookup({}, None)
    if dels_df is not None:
        dd = dels_df.select(
            F.shiftrightunsigned(F.col("doc_num"), SEG_SHIFT)
            .cast("int").alias("seg"),
            F.col("doc_num").bitwiseAND(F.lit(LOCAL_MASK))
            .cast("long").alias("local"),
        )
        del_counts = {
            int(r["seg"]): int(r["n"])
            for r in dd.groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if sum(del_counts.values()) <= cap:
            deleted: dict[int, list] = {}
            for r in dd.collect():
                deleted.setdefault(int(r["seg"]), []).append(
                    int(r["local"])
                )
            lookup = _DeleteLookup(
                {
                    s: np.array(sorted(v), dtype=np.int64)
                    for s, v in deleted.items()
                },
                None,
            )
        else:
            dels_path = os.path.join(dst_root, "_dels_compact")
            (
                dd.repartition("seg")
                .write.partitionBy("seg")
                .mode("overwrite").parquet(dels_path)
            )
            lookup = _DeleteLookup(None, dels_path,
                                   expected_counts=del_counts)
    bc_deleted = spark.sparkContext.broadcast(lookup)

    def _live(m):
        return m["doc_count"] - del_counts.get(m["segment_id"], 0)

    # per-old-segment: (new_seg, LIVE doc offset within new seg, member)
    remap: dict[int, tuple[int, int, int]] = {}
    for g, members in enumerate(groups):
        off = 0
        for mi, m in enumerate(members):
            remap[m["segment_id"]] = (g, off, mi)
            off += _live(m)

    os.makedirs(dst_root, exist_ok=True)

    # ---- postings: decode → drop deleted → renumber → re-encode ----
    rows = src_store_for_dels.chunk_rows(with_blobs=True)
    remap_items = [
        (int(old), int(v[0]), int(v[1]), int(v[2]))
        for old, v in remap.items()
    ]
    rm_df = spark.createDataFrame(
        remap_items, "segment_id int, new_seg int, doc_off long, member int"
    )
    rows = rows.join(F.broadcast(rm_df), "segment_id")
    group_keys = ["new_seg", "field", "term"]
    auto_band = band_chunks == "auto"
    hot_pred = None
    if auto_band:
        import functools
        import operator

        from bleve_spark import config as _cfg

        band_chunks = None
        hot_min = int(_cfg.MERGE_BAND_MIN_POSTINGS)
        # metadata-only aggregation (no blob IO), per MERGE GROUP —
        # a term fanned out across many groups is only hot if one
        # group's share crosses the threshold. Terms with sparse input
        # ids ride along, largest id first, so the first row tells
        # whether ANY input id is ≥ 2^40 (see docstring).
        sparse = F.col("_mc") >= F.lit(1 << SEG_SHIFT)
        hot_rows = (
            rows.groupBy("new_seg", "field", "term")
            .agg(F.sum("n_docs").alias("_np"),
                 F.max("chunk_id").alias("_mc"))
            .where((F.col("_np") > hot_min) | sparse)
            .groupBy("field", "term").agg(F.max("_mc").alias("_mc"))
            .orderBy(F.col("_mc").desc())
            .limit(_HOT_TERMS_MAX + 1)
            .collect()
        )
        if hot_rows and hot_rows[0]["_mc"] < 1 << SEG_SHIFT:
            band_chunks = max(1, (hot_min // 2) // chunk_docs)
            if len(hot_rows) <= _HOT_TERMS_MAX:
                hot_pred = functools.reduce(operator.or_, [
                    (F.col("field") == r["field"])
                    & (F.col("term") == r["term"])
                    for r in hot_rows
                ])
            # else: pervasive skew — band every term
    if band_chunks:
        # band key orders by (member, chunk) — collision-free while
        # every banded chunk_id is < 2^40 (a segment holds < 2^40
        # docs, so dense ids are; auto mode refuses sparse ones).
        # Explicit band_chunks renumbers output chunk ids densely
        # after the merge; auto mode keeps the sparse ordered ids
        # (see docstring) and bands only hot terms.
        banded = (
            (
                F.col("member").cast("long") * F.lit(1 << 40)
                + F.col("chunk_id").cast("long")
            )
            / F.lit(band_chunks)
        ).cast("long")
        if hot_pred is not None:
            banded = F.when(hot_pred, banded).otherwise(F.lit(0))
        rows = rows.withColumn("band", banded)
        group_keys = group_keys + ["band"]

    cd = chunk_docs
    bc = band_chunks
    # segments whose docs need the decode→drop→renumber slow path;
    # everything else takes the zero-decode concat fast path below
    segs_with_dels = frozenset(
        s for s, c in del_counts.items() if c > 0
    )

    def _first_varint_len(blob: bytes) -> int:
        i = 0
        while blob[i] & 0x80:
            i += 1
        return i + 1

    def _concat_group(pdf: pd.DataFrame, new_seg: int) -> pd.DataFrame:
        """Deletion-free groups: member doc ranges are DISJOINT after
        renumbering (offsets partition the new local space), and every
        chunk blob is independently delta-coded with an absolute first
        doc — so the merge is a byte-level concatenation with only the
        FIRST varint of each doc_blob rewritten (absolute → offset
        first doc, or gap from the previous chunk's last doc when
        chunks coalesce). tf/pos/len streams are self-delimiting and
        pass through byte-identical. Zero posting decode/re-encode:
        the cost drops from O(postings) numpy codec work to O(bytes)
        memcpy + one varint per source chunk (the 25×-below-build
        merge constant of BENCH r5)."""
        base_new = np.int64(new_seg) << np.int64(SEG_SHIFT)
        offs = pdf["doc_off"].to_numpy().astype(np.int64)
        fmin = (
            pdf["min_doc"].to_numpy().astype(np.int64) & LOCAL_MASK
        ) + offs
        fmax = (
            pdf["max_doc"].to_numpy().astype(np.int64) & LOCAL_MASK
        ) + offs
        nd = pdf["n_docs"].to_numpy().astype(np.int64)
        mtf = pdf["max_tf"].to_numpy()
        mnorm = pdf["max_norm"].to_numpy()
        par_tf = pdf["pareto_tf"].tolist()
        par_nm = pdf["pareto_norm"].tolist()
        doc_blobs = pdf["doc_blob"].tolist()
        tf_blobs = pdf["tf_blob"].tolist()
        pos_blobs = pdf["pos_blob"].tolist()
        len_blobs = pdf["len_blob"].tolist()
        band = int(pdf["band"].iloc[0]) if bc else 0
        fld = pdf["field"].iloc[0]
        term = pdf["term"].iloc[0]

        out = {
            "segment_id": [], "field": [], "term": [], "chunk_id": [],
            "n_docs": [], "doc_blob": [], "tf_blob": [], "pos_blob": [],
            "len_blob": [],
            "max_tf": [], "max_norm": [], "min_doc": [], "max_doc": [],
            "pareto_tf": [], "pareto_norm": [],
        }
        n_out = 0
        i = 0
        n_in = len(pdf)
        while i < n_in:
            # greedy coalesce of whole source chunks up to chunk_docs
            d_parts, t_parts, p_parts, l_parts = [], [], [], []
            cur_n = 0
            c_min = fmin[i]
            c_maxtf = 0
            c_maxnorm = 0.0
            c_par: dict[int, tuple[int, float]] = {}
            prev_last = None
            while i < n_in and (cur_n == 0 or cur_n + nd[i] <= cd):
                blob = doc_blobs[i]
                head = _first_varint_len(blob)
                first = (
                    int(fmin[i]) if prev_last is None
                    else int(fmin[i] - prev_last)
                )
                d_parts.append(
                    varint_encode(np.array([first], dtype=np.uint64))
                    + blob[head:]
                )
                t_parts.append(tf_blobs[i])
                p_parts.append(pos_blobs[i])
                l_parts.append(len_blobs[i])
                cur_n += int(nd[i])
                c_maxtf = max(c_maxtf, int(mtf[i]))
                c_maxnorm = max(c_maxnorm, float(mnorm[i]))
                for tv, nv in zip(par_tf[i], par_nm[i]):
                    b = min(int(tv), _PARETO_CAP)
                    old = c_par.get(b)
                    if old is None:
                        c_par[b] = (int(tv), float(nv))
                    else:
                        c_par[b] = (max(old[0], int(tv)),
                                    max(old[1], float(nv)))
                prev_last = fmax[i]
                i += 1
            out["segment_id"].append(new_seg)
            out["field"].append(fld)
            out["term"].append(term)
            out["chunk_id"].append(
                band * bc + n_out if bc else n_out
            )
            out["n_docs"].append(cur_n)
            out["doc_blob"].append(b"".join(d_parts))
            out["tf_blob"].append(b"".join(t_parts))
            out["pos_blob"].append(b"".join(p_parts))
            out["len_blob"].append(b"".join(l_parts))
            out["max_tf"].append(c_maxtf)
            out["max_norm"].append(c_maxnorm)
            out["min_doc"].append(int(base_new + c_min))
            out["max_doc"].append(int(base_new + prev_last))
            ks = sorted(c_par)
            out["pareto_tf"].append([c_par[b][0] for b in ks])
            out["pareto_norm"].append([c_par[b][1] for b in ks])
            n_out += 1
        return pd.DataFrame(out)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["member", "chunk_id"], kind="mergesort")
        new_seg = int(pdf["new_seg"].iloc[0])
        if not segs_with_dels.intersection(
            int(s) for s in pdf["segment_id"].unique()
        ):
            return _concat_group(pdf, new_seg)
        base_new = np.uint64(new_seg) << np.uint64(SEG_SHIFT)
        dels = bc_deleted.value
        docs_all, tfs_all, pos_all, lens_all = [], [], [], []
        norms_max = 0.0
        for r in pdf.itertuples():
            # blobs carry segment-LOCAL doc nums; drop deleted docs and
            # renumber compactly into the new segment's local space
            local = delta_decode_sorted(r.doc_blob).astype(np.int64)
            tfs = varint_decode(r.tf_blob)
            plists = decode_positions(r.pos_blob, len(local))
            lens = varint_decode(r.len_blob)
            del_arr = dels.get(int(r.segment_id))
            if del_arr is not None and len(del_arr):
                pos_in = np.searchsorted(del_arr, local)
                hit = (pos_in < len(del_arr)) & (
                    del_arr[np.minimum(pos_in, len(del_arr) - 1)]
                    == local
                )
                keep = ~hit
                if not keep.any():
                    continue
                local = local[keep]
                tfs = tfs[keep]
                plists = [p for p, k in zip(plists, keep) if k]
                lens = lens[keep]
                # compacted live rank = local − #deleted below it
                local = local - np.searchsorted(del_arr, local)
            off = np.uint64(int(r.doc_off))
            docs_all.append(off + local.astype(np.uint64))
            tfs_all.append(tfs)
            pos_all.extend(plists)
            lens_all.append(lens)
            norms_max = max(norms_max, float(r.max_norm))
        if not docs_all:
            # object dtype: a default (float64) empty column fails the
            # Arrow conversion to array<long> in the worker
            return pd.DataFrame(
                {k: pd.Series([], dtype=object) for k in (
                    "segment_id", "field", "term", "chunk_id", "n_docs",
                    "doc_blob", "tf_blob", "pos_blob", "len_blob",
                    "max_tf",
                    "max_norm", "min_doc", "max_doc",
                    "pareto_tf", "pareto_norm",
                )}
            )
        docs_a = np.concatenate(docs_all)
        tfs_a = np.concatenate(tfs_all)
        lens_a = np.concatenate(lens_all)
        out = {
            "segment_id": [], "field": [], "term": [], "chunk_id": [],
            "n_docs": [], "doc_blob": [], "tf_blob": [], "pos_blob": [],
            "len_blob": [],
            "max_tf": [], "max_norm": [], "min_doc": [], "max_doc": [],
            "pareto_tf": [], "pareto_norm": [],
        }
        norms_a = (
            np.where(lens_a > 0,
                     1.0 / np.sqrt(np.maximum(lens_a, 1)), 0.0)
            .astype(np.float32).astype(np.float64)
        )
        fld = pdf["field"].iloc[0]
        term = pdf["term"].iloc[0]
        band = int(pdf["band"].iloc[0]) if bc else 0
        for i, c0 in enumerate(range(0, len(docs_a), cd)):
            c1 = min(c0 + cd, len(docs_a))
            out["segment_id"].append(new_seg)
            out["field"].append(fld)
            out["term"].append(term)
            # band·band_chunks + i keeps chunk order == doc order
            # across bands (bands partition the (member, chunk) range);
            # renumbered densely below
            out["chunk_id"].append(band * bc + i if bc else i)
            out["n_docs"].append(c1 - c0)
            out["doc_blob"].append(delta_encode_sorted(docs_a[c0:c1]))
            out["tf_blob"].append(varint_encode(tfs_a[c0:c1]))
            out["pos_blob"].append(encode_positions(pos_all[c0:c1]))
            out["len_blob"].append(varint_encode(lens_a[c0:c1]))
            out["max_tf"].append(int(tfs_a[c0:c1].max()))
            out["max_norm"].append(norms_max)
            ct = tfs_a[c0:c1].astype(np.int64)
            cn = norms_a[c0:c1]
            bkt = np.minimum(ct, _PARETO_CAP)
            pp: dict[int, tuple[int, float]] = {}
            for tv, bv, nv in zip(ct, bkt, cn):
                old = pp.get(int(bv))
                if old is None:
                    pp[int(bv)] = (int(tv), float(nv))
                else:
                    pp[int(bv)] = (max(old[0], int(tv)),
                                   max(old[1], float(nv)))
            ks = sorted(pp)
            out["pareto_tf"].append([pp[b][0] for b in ks])
            out["pareto_norm"].append([pp[b][1] for b in ks])
            # min/max_doc columns stay GLOBAL (pruning predicates
            # compare against global doc nums)
            out["min_doc"].append(int(base_new + docs_a[c0]))
            out["max_doc"].append(int(base_new + docs_a[c1 - 1]))
        return pd.DataFrame(out)

    merged = rows.groupBy(*group_keys).applyInPandas(
        merge_group, schema=_posting_schema()
    )
    if band_chunks and not auto_band:
        # dense, order-preserving chunk ids so any number of banded
        # merge levels compose without id-space growth (auto mode
        # skips this — the window would re-shuffle every output blob
        # byte; its sparse ids stay unique and ordered)
        from pyspark.sql import Window

        w = Window.partitionBy("segment_id", "field", "term").orderBy(
            "chunk_id"
        )
        merged = merged.withColumn(
            "chunk_id", (F.row_number().over(w) - 1).cast("long")
        )
    (
        # task-local sort before the write (NO extra shuffle): the
        # stage-1 builder emits files term-sorted, so parquet
        # row-group min/max stats prune (field, term) predicates to
        # the few groups holding the term — but the merge shuffle
        # scatters terms, and an UNSORTED merged segment forces every
        # term query to read every row group's blob pages (measured:
        # a zero-posting term cost 5.2s on a merged 20M store, ~the
        # same as the highest-df term). Sorting restores the pruning.
        merged.sortWithinPartitions("field", "term", "chunk_id")
        .withColumnRenamed("segment_id", "seg")
        .write.partitionBy("seg")
        # small row groups: a hot term's chunk rows can span 100+ MB,
        # and parquet prunes at ROW-GROUP granularity — with default
        # 128 MB groups a pushed-down chunk_id/min_doc predicate still
        # reads the term's whole blob region. 8 MB groups make WAND's
        # interval/chunk predicates skip real IO (~16x less read for
        # a pruned top-k) at negligible metadata overhead.
        .option("parquet.block.size", str(8 * 1024 * 1024))
        .mode("overwrite")
        .parquet(os.path.join(dst_root, "postings"))
    )
    # normalize partition dir name seg=<id> matches reader glob
    # (spark writes postings/seg=K/part-*.parquet — same layout)

    # ---- doc tables: ONE job for ALL groups — read every segment's
    # table with the partition column, join the broadcast remap, drop
    # deleted + renumber compactly in a vectorized Arrow stage, and
    # write partitioned by the new segment id. (The previous shape —
    # one sequential Spark job + coalesce(1) per group — serializes
    # 20k jobs at the SURVEY's 200k-segment scale argument; this is a
    # single scan → narrow map → partitioned write.)
    has_dynamic = any(m.get("dynamic_fields") for m in manifests)
    docs_reader = spark.read.option(
        "basePath", os.path.join(src_root, "docs")
    )
    if has_dynamic:
        # dynamic-map len_<path>.<key> columns are data-driven per
        # segment — merge the parquet schemas so no segment's columns
        # are dropped by the single-footer schema inference
        docs_reader = docs_reader.option("mergeSchema", "true")
    docs_all = (
        docs_reader
        .parquet(os.path.join(src_root, "docs", "seg=*"))
        .withColumnRenamed("seg", "segment_id")
        .join(F.broadcast(rm_df), "segment_id")
    )
    helper = {"segment_id", "new_seg", "doc_off", "member"}
    doc_cols = [c for c in docs_all.columns if c not in helper]
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in docs_all.schema.fields
        if f.name in doc_cols
    )
    out_schema = f"{out_fields}, seg int"
    # mapInPandas re-resolves input columns by name and chokes on
    # dotted ones (dynamic-map len_<path>.<key>): ride them under safe
    # aliases, rename back inside the task (same trick as
    # segments.build_segments)
    safe = {
        c: (f"_dotted_{i}" if "." in c else c)
        for i, c in enumerate(docs_all.columns)
    }
    unsafe = {v: k for k, v in safe.items()}
    if any(k != v for k, v in safe.items()):
        docs_all = docs_all.select(
            *[F.col(f"`{c}`").alias(safe[c]) for c in docs_all.columns]
        )

    def renum_all(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.rename(columns=unsafe)
            dels = bc_deleted.value
            segs = pdf["segment_id"].to_numpy()
            local = (
                pdf["doc_num"].to_numpy().astype(np.int64) & LOCAL_MASK
            )
            keep = np.ones(len(pdf), dtype=bool)
            compacted = local.copy()
            for s in np.unique(segs):
                m = segs == s
                del_arr = dels.get(int(s))
                if del_arr is None or not len(del_arr):
                    continue
                loc = local[m]
                pos = np.searchsorted(del_arr, loc)
                hit = (pos < len(del_arr)) & (
                    del_arr[np.minimum(pos, len(del_arr) - 1)] == loc
                )
                keep[m] &= ~hit
                # compacted live rank = local − #deleted below it
                compacted[m] = loc - np.searchsorted(del_arr, loc)
            new_num = (
                (pdf["new_seg"].to_numpy().astype(np.int64) << SEG_SHIFT)
                + pdf["doc_off"].to_numpy().astype(np.int64)
                + compacted
            )
            out = pdf.loc[keep, doc_cols].copy()
            out["doc_num"] = new_num[keep]
            out["seg"] = pdf["new_seg"].to_numpy()[keep]
            yield out

    (
        docs_all.mapInPandas(renum_all, schema=out_schema)
        .write.partitionBy("seg")
        .mode("overwrite")
        .parquet(os.path.join(dst_root, "docs"))
    )

    # ---- manifests ----
    out_manifests = []
    secs = time.time() - t_start
    for g, members in enumerate(groups):
        man = {
            "segment_id": g,
            "doc_count": sum(_live(m) for m in members),
            "postings": sum(m["postings"] for m in members),
            "unique_terms": None,  # recomputed lazily by stats()
            "bytes": sum(m["bytes"] for m in members),
            "seconds": secs,
            "postings_per_sec": (
                sum(m["postings"] for m in members) / secs
                if secs > 0 else 0.0
            ),
            "merged_from": [m["segment_id"] for m in members],
            "fields": members[0].get("fields"),
            "key_cols": members[0].get("key_cols"),
            # every input passed SegmentStore.manifests' format check
            "posting_lens": True,
        }
        dyn = sorted({
            f for m in members for f in (m.get("dynamic_fields") or [])
        })
        if dyn:
            man["dynamic_fields"] = dyn
        _, _, mpath = _seg_paths(dst_root, g)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        with open(mpath, "w") as f:
            json.dump(man, f)
        out_manifests.append(man)
    return out_manifests


def tiered_merge(
    spark: SparkSession,
    root: str,
    options=None,
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    band_chunks: int | None = None,
    max_rounds: int = 20,
    delete_broadcast_max: int | None = None,
) -> str:
    """Policy-driven background-merge analogue: plan with the
    reference's tiered policy (mergeplan.py) and execute rounds until
    the plan is empty — the batch statement of scorch's merger loop
    (/root/reference/index/scorch/merge.go:48,305)."""
    from bleve_spark.index.mergeplan import plan_from_manifests

    cur = root
    for level in range(1, max_rounds + 1):
        from bleve_spark.index.segments import SegmentStore

        store = SegmentStore(spark, cur)
        manifests = store.manifests()
        deleted_counts = store.deleted_counts()
        rosters = plan_from_manifests(manifests, options,
                                      deleted=deleted_counts)
        if not rosters:
            return cur
        nxt = f"{root}_T{level}"
        merge_level(
            spark, cur, nxt, chunk_docs=chunk_docs,
            band_chunks=band_chunks, rosters=rosters,
            delete_broadcast_max=delete_broadcast_max,
        )
        cur = nxt
    return cur


def merge_to_single(
    spark: SparkSession,
    root: str,
    fanin: int | None = 10,
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    band_chunks: int | str | None = "auto",
    delete_broadcast_max: int | None = None,
) -> str:
    """Repeated ≤fanin-way rounds until one segment remains
    (builder.go:169-236). Returns the final level's root path.

    ``fanin=None`` merges ALL segments in ONE round. The reference's
    ≤10-way bound exists because its native merger holds the open
    members in memory; here a merge group is one (term)'s postings and
    — since the deletion-free path is byte concatenation — group cost
    is O(bytes), so a single wide round replaces log₁₀(n) rounds of
    shuffling every posting byte (measured 5.3× on a 250-segment 2M
    store: 86.9s → 16.5s, identical output). Group memory is bounded
    by the hottest term's total bytes; the default
    ``band_chunks="auto"`` (r7) detects terms past
    config.MERGE_BAND_MIN_POSTINGS from one metadata aggregation and
    sub-keys ONLY those into bounded bands, so a Zipfian hot term
    can no longer stall the round on one executor while unskewed
    stores keep the measured single-group-per-term path."""
    from bleve_spark.index.segments import SegmentStore as _SS

    level = 0
    cur = root
    while True:
        n = len(_SS(spark, cur).manifest_names())
        if n <= 1:
            return cur
        level += 1
        nxt = f"{root}_L{level}"
        merge_level(spark, cur, nxt, fanin if fanin else n,
                    chunk_docs, band_chunks,
                    delete_broadcast_max=delete_broadcast_max)
        cur = nxt
