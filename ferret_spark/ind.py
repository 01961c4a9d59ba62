"""FerretIndex — the top-level index facade.

Reference: the Index convenience API (ruby/lib/ferret/index.rb:91-450,
c/src/ind.c) — open/add/search/delete/optimize with auto-flush. Our LSM
shape: every add_documents() batch becomes fresh doc-range segments
(appended parquet), deletions are lazy (BitVector analog: a deleted-ids
table applied at query time, c/src/index.c:5729-5745), and optimize()
expunges deletes + rebuilds the base term dictionary (iw_optimize
c/src/index.c:6439-6453).

An add materialises its batch once: the batch's docs frame and its
segments are each persisted for the length of the add, written, and fed
to the next step, so no job re-reads what the add just wrote, recounts
the batch or re-derives the segment span (the counts come from the new
files' parquet footers). The batch's own term_stats become a new merge
generation, like the reference's flush-then-merge-small-tiers
(iw_add_document -> iw_maybe_merge_segments, c/src/index.c:6280-6309); a
tier merge sums its victims' dfs, so no posting byte is written twice.
Corpus stats fold the batch's doc-length sums into the exact sums kept in
meta.json. Every table the library wrote is opened with the schema its
footers record (no schema-inference job).

Deviation from the reference (by design): doc_ids are stable forever —
merges never remap them (the reference renumbers via doc_map + base;
stable global ids are what make distributed rank-identity testable).
New batches start at the next segment boundary, so id space may have gaps;
meta.json tracks the live id ranges.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ferret_spark import build as B
from ferret_spark.query import Query, TermQuery
from ferret_spark.segments import (
    SegmentIndex,
    SegmentIndexBuilder,
    add_sums,
    append_manifest,
    base_generation,
    build_segments,
    data_files,
    footer_rows,
    marker_sums,
    parquet_rows,
    read_table,
    stats_from_sums,
    sums_of,
    term_stats_frame,
    term_stats_partitions,
    write_generation,
)


def _append(df: DataFrame, table: str) -> list[str]:
    """Append ``df`` to a table directory; returns the data files this
    write added (their footers hold its row count)."""
    before = set(data_files(table))
    df.write.mode("append").parquet(table)
    return [f for f in data_files(table) if f not in before]


class ConcurrentWriterError(RuntimeError):
    """A second writer committed meta.json during this mutation.

    The reference serializes writers with an in-process mutex + store lock
    (c/src/index.c:6337); FerretIndex instead assumes a single driver-side
    writer and turns a detected interleave into a hard error rather than
    silent index corruption."""


class FerretIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        field_config: dict[str, str] | None = None,
        seg_size: int = 4096,
        merge_factor: int = 10,
    ):
        self.spark = spark
        self.path = path
        self.seg_size = seg_size
        self.merge_factor = merge_factor
        self._idx: SegmentIndex | None = None
        if os.path.exists(os.path.join(path, "meta.json")):
            self._idx = SegmentIndex.load(spark, path)
            self.field_config = self._idx.field_config
            self.seg_size = self._idx.seg_size
        else:
            assert field_config, "field_config required to create a new index"
            self.field_config = field_config

    # ------------------------------------------------------------------ api
    @property
    def index(self) -> SegmentIndex:
        assert self._idx is not None, "index is empty — add documents first"
        return self._idx

    def size(self) -> int:
        return 0 if self._idx is None else self.index.stats["n_docs"]

    def add_documents(self, df: DataFrame, id_cols=None, doc_id_col=None):
        """Append a batch as new doc-range segments (the add_document /
        flush path, E2). First call creates the index."""
        if self._idx is None:
            b = SegmentIndexBuilder(
                self.spark,
                self.path,
                self.field_config,
                seg_size=self.seg_size,
            )
            self._idx = b.build(df, id_cols=id_cols, doc_id_col=doc_id_col)
            meta = self._meta()
            meta["id_ranges"] = [[0, meta["stats"]["n_docs"]]]
            meta["generations"] = [base_generation(meta["stats"]["n_docs"])]
            self._write_meta(meta)
            self._reload_idx()
            return self

        t0 = time.time()
        meta = self._meta()
        ranges = meta.get("id_ranges", [[0, meta["stats"]["n_docs"]]])
        next_id = max(r[1] for r in ranges)
        # new batch starts at the next segment boundary -> new seg_ids never
        # collide with existing ones and stay doc-range aligned
        base = ((next_id + self.seg_size - 1) // self.seg_size) * self.seg_size

        if doc_id_col:
            batch = df.withColumn(
                "doc_id", (F.col(doc_id_col).cast("long") + F.lit(base))
            )
        else:
            assert id_cols
            batch = B.assign_doc_ids(
                df, id_cols, seg_size=self.seg_size
            ).withColumn("doc_id", F.col("doc_id") + F.lit(base))
        # the batch is computed ONCE: its docs frame and its segments are
        # each persisted, written, and fed to the next step — never re-read
        # from the appended tables or recounted by a job. Both caches hold
        # only this batch and are released however the add ends.
        docs = B.build_docs(
            batch, self.field_config, doc_id_col="doc_id",
            keep_tokens=False, doc_lens=False,
        ).persist()
        segs = None
        try:
            new_docs = _append(docs, os.path.join(self.path, "docs"))
            n_new = footer_rows(new_docs)
            n_segs = max(1, -(-n_new // self.seg_size))
            segs = build_segments(
                docs, self.field_config, self.seg_size, n_segments=n_segs
            ).persist()
            new_segs = _append(segs, os.path.join(self.path, "segments"))
            seg_rows = footer_rows(new_segs)
            # the batch's term_stats become its own merge GENERATION (tiered
            # policy, iw_maybe_merge_segments analog): their cost and
            # fan-out follow the batch, not the index; tiers collapse
            # geometrically in _maybe_merge_generations
            gen = write_generation(
                self.path, self._new_gname(), segs, seg_rows, n_new
            )
        finally:
            docs.unpersist()
            if segs is not None:
                segs.unpersist()
        meta["generations"] = (
            meta.get("generations") or [base_generation(meta["stats"]["n_docs"])]
        ) + [gen]
        meta["id_ranges"] = ranges + [[base, base + n_new]]
        meta["stats"] = self._fold_stats(meta["stats"], new_segs, n_new)
        self._write_meta(meta)
        append_manifest(
            self.spark,
            self.path,
            f"add_batch_{int(time.time())}",
            {
                "rows": n_new,
                "bytes": -1,
                "partitions": term_stats_partitions(self.spark, seg_rows),
                "elapsed_sec": time.time() - t0,
            },
        )
        self._maybe_merge_generations()
        self._reload_idx()
        return self

    def add_index(self, other: "FerretIndex"):
        """Bulk-append another prebuilt index WITHOUT re-tokenizing
        (iw_add_readers analog, c/src/index.c:6530-6750): compressed
        posting bytes copy verbatim; only the absolute ids in block_meta
        shift by the id base (the codec's blocks are self-contained), in
        one Spark projection. The other index's summed term_stats become one
        new merge generation (a df does not change when doc ids shift);
        global stats fold in the shifted doc-length markers."""
        from ferret_spark.segments import shift_posting_rows

        assert self._idx is not None, "add documents first"
        o = other.index
        assert o.seg_size == self.seg_size, "segment sizes must match"
        assert o.field_config == self.field_config, "field configs must match"
        assert other.deleted_df() is None, (
            "source has pending deletes — optimize() it first"
        )
        meta = self._meta()
        ranges = meta.get("id_ranges", [[0, meta["stats"]["n_docs"]]])
        next_id = max(r[1] for r in ranges)
        base = (
            (next_id + self.seg_size - 1) // self.seg_size
        ) * self.seg_size
        seg_shift = base // self.seg_size

        shifted_docs = o.docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(base)
        )
        n_new = footer_rows(
            _append(shifted_docs, os.path.join(self.path, "docs"))
        )
        src_segs = read_table(self.spark, os.path.join(other.path, "segments"))
        new_segs = _append(
            shift_posting_rows(src_segs, base, seg_shift),
            os.path.join(self.path, "segments"),
        )
        gens = meta.get("generations") or [
            base_generation(meta["stats"]["n_docs"])
        ]
        gens.append(
            write_generation(
                self.path,
                self._new_gname(),
                o.term_stats,
                sum(d.count_rows() for d in o._term_dicts),
                o.stats["n_docs"],
            )
        )
        meta["generations"] = gens
        meta["id_ranges"] = ranges + [
            [lo + base, hi + base] for lo, hi in o.id_ranges
        ]
        meta["stats"] = self._fold_stats(meta["stats"], new_segs, n_new)
        self._write_meta(meta)
        self._maybe_merge_generations()
        append_manifest(
            self.spark,
            self.path,
            f"add_index_{int(time.time())}",
            {"rows": o.stats["n_docs"], "bytes": -1},
        )
        self._reload_idx()
        return self

    def _new_gname(self) -> str:
        """Collision-proof generation dir name: millisecond timestamps can
        repeat across merge-loop iterations (overwriting a generation still
        referenced by `keep`); a uuid suffix cannot."""
        import uuid

        return (
            f"generations/g{int(time.time() * 1000)}_{uuid.uuid4().hex[:8]}"
        )

    def _segment_stats(self) -> dict:
        """Corpus stats from one decode of every segment file's markers."""
        # doc-length markers exist only for TOKENIZED fields; an all-keyword
        # field_config has none, so n_docs must fall back to the docs-table
        # row count (parquet footers, no Spark job) — a 0 fallback would
        # turn bm25_idf(df, 0) negative and invert ranking
        return stats_from_sums(
            marker_sums(
                self.spark, data_files(os.path.join(self.path, "segments"))
            ),
            self.field_config,
            n_docs_fallback=parquet_rows(os.path.join(self.path, "docs")),
        )

    def _fold_stats(self, stats: dict, new_seg_files, n_new: int) -> dict:
        """Corpus stats after appending ``new_seg_files`` (``n_new`` docs):
        the exact sums ``stats`` keeps plus those of the new files'
        markers, so an add decodes only its own batch. Stats written
        before the sums were kept get them from one full decode."""
        old = sums_of(stats)
        if old is None:
            return self._segment_stats()
        return stats_from_sums(
            add_sums(old, marker_sums(self.spark, new_seg_files)),
            self.field_config,
            n_docs_fallback=stats["n_docs"] + n_new,
        )

    def _drop_generation(self, g: dict):
        """Delete a generation no meta.json entry names any more. The base
        generation's term_stats/ is the index root's and stays for
        optimize() to rewrite; an older layout's root merged/ goes."""
        import shutil

        if g["term_stats"] == "term_stats":
            shutil.rmtree(os.path.join(self.path, "merged"), ignore_errors=True)
        else:
            shutil.rmtree(
                os.path.dirname(os.path.join(self.path, g["term_stats"])),
                ignore_errors=True,
            )

    def _maybe_merge_generations(self, merge_factor: int | None = None):
        """Collapse the smallest generations while more than merge_factor
        exist (geometric/tiered policy, iw_maybe_merge_segments
        c/src/index.c:6280-6309 with the reference default factor 10).
        Only the chosen small tiers are rewritten — big generations are
        untouched, so K incremental adds cost O(K * batch * log), never
        O(index) per add. A merge sums the victims' term_stats; no
        posting byte moves."""
        factor = merge_factor or self.merge_factor
        while True:
            meta = self._meta()
            gens = meta.get("generations", [])
            if len(gens) <= factor:
                return
            t0 = time.time()
            by_size = sorted(gens, key=lambda g: g["rows"])
            victims = by_size[:factor]
            keep = [g for g in gens if g not in victims]
            dirs = [os.path.join(self.path, g["term_stats"]) for g in victims]
            union = read_table(self.spark, dirs[0])
            for d in dirs[1:]:
                union = union.unionByName(read_table(self.spark, d))
            n_rows = sum(parquet_rows(d) for d in dirs)
            gname = self._new_gname()
            rows = sum(g["rows"] for g in victims)
            keep.append(write_generation(self.path, gname, union, n_rows, rows))
            # commit protocol: the new generation + meta are durable BEFORE
            # victim dirs go away — a crash in between leaves at worst an
            # orphaned (unreferenced) directory, never a meta.json pointing
            # at deleted paths
            meta["generations"] = keep
            self._write_meta(meta)
            append_manifest(
                self.spark,
                self.path,
                f"tier_merge_{os.path.basename(gname)}",
                {
                    "rows": rows,
                    "bytes": -1,
                    "partitions": term_stats_partitions(self.spark, n_rows),
                    "elapsed_sec": time.time() - t0,
                },
            )
            for g in victims:
                self._drop_generation(g)

    # -------------------------------------------------------------- deletes
    def _deleted_path(self) -> str:
        return os.path.join(self.path, "deleted")

    def deleted_df(self) -> DataFrame | None:
        p = self._deleted_path()
        if not os.path.exists(p):
            return None
        return read_table(self.spark, p).select("doc_id")

    def _deleted_state_key(self):
        """Fingerprint of the deletes parquet dir — keys the packed-deletes
        cache in segment_search (the pack shuffle runs once per deletes
        state, not once per search)."""
        p = self._deleted_path()
        if not os.path.exists(p):
            return None
        return tuple(
            sorted(
                (f, os.path.getsize(os.path.join(p, f)))
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        )

    def delete_by_term(self, field: str, term: str) -> int:
        return self.delete_by_query(TermQuery(field=field, term=term))

    def delete_by_query(self, q: Query) -> int:
        """Lazy delete: record matching doc ids (iw_delete_term analog,
        c/src/index.c:6366-6398)."""
        hits = self.search(q, k=None).select("doc_id")
        n = hits.count()
        hits.write.mode("append").parquet(self._deleted_path())
        return n

    # -------------------------------------------------------------- search
    def search(
        self, q: Query, k: int | None = 10, offset: int = 0, post_filter=None
    ) -> DataFrame:
        from ferret_spark.wand import segment_search

        return segment_search(
            self.index, q, k=k, offset=offset, deleted=self.deleted_df(),
            post_filter=post_filter,
            deleted_cache_key=self._deleted_state_key(),
        )

    def search_batch(self, queries: list, k: int = 10) -> DataFrame:
        """Top-k for a whole query log in ONE Spark job — (query_id,
        rank, doc_id, score), float32-identical per query to search().
        Deletions apply exactly as in search(), and every query shape
        search() accepts is accepted: both plan through the same
        wand._plan_segments."""
        from ferret_spark.wand import segment_batch_search

        return segment_batch_search(
            self.index, queries, k=k, deleted=self.deleted_df(),
            deleted_cache_key=self._deleted_state_key(),
        )

    def query(self, fql: str, k: int = 10, **kw) -> DataFrame:
        from ferret_spark.parser import QueryParser

        tokenized = [f for f, a in self.field_config.items() if a != "keyword"]
        p = QueryParser(
            default_field=tokenized[0] if tokenized else "content",
            fields=list(self.field_config),
            tokenized_fields=tokenized,
            analyzer=kw.pop("analyzer", self.field_config.get(tokenized[0], "standard") if tokenized else "standard"),
        )
        parsed = p.parse(fql)
        if parsed is None:
            return self.spark.createDataFrame([], "doc_id long, score float")
        return self.search(parsed, k=k, **kw)

    def get_doc(self, doc_id: int) -> dict | None:
        rows = self.index.docs.where(F.col("doc_id") == doc_id).collect()
        return rows[0].asDict() if rows else None

    # ------------------------------------------------------------- optimize
    def optimize(self):
        """Expunge deletions by rewriting segments (decode -> drop ->
        re-encode), rebuild one base term_stats + stats, clear the
        deletion list. Doc ids are preserved."""
        from ferret_spark.codec import (
            decode_posting_list,
            encode_posting_list,
            posting_row,
        )
        from ferret_spark.segments import SEGMENT_COLUMNS, SEGMENT_SCHEMA

        deleted_df = self.deleted_df()
        has_deletes = deleted_df is not None
        segs = read_table(self.spark, os.path.join(self.path, "segments"))
        if has_deletes:
            # deletions ride the seg_id shuffle as packed __del__ rows (the
            # same mechanism the search path uses) — a bulk delete never
            # becomes a driver-side set or broadcast list
            from ferret_spark.wand import _pack_deleted

            del_rows = _pack_deleted(deleted_df, self.seg_size, segs.schema)

            def rewrite(key, pdf):  # no hints: pyspark warns on partial grouped-map hints
                is_del = (pdf["field"] == "__del__").to_numpy()
                ids_del = np.frombuffer(
                    b"".join(map(bytes, pdf["doc_bin"][is_del])), dtype=np.int64
                )
                out = []
                for r in pdf[~is_del].to_dict("records"):
                    ids, tfs, (pos, _bounds), dls = decode_posting_list(
                        posting_row(r), with_positions="flat"
                    )
                    keep = ~np.isin(ids, ids_del)
                    if not keep.any():
                        continue
                    enc = encode_posting_list(
                        ids[keep],
                        tfs[keep],
                        pos[np.repeat(keep, tfs)] if len(pos) else None,
                        dls[keep],
                    )
                    out.append((r["seg_id"], r["field"], r["term"], *enc.values()))
                return pd.DataFrame(out, columns=SEGMENT_COLUMNS)

            segs = (
                segs.unionByName(del_rows)
                .groupBy("seg_id")
                .applyInPandas(rewrite, SEGMENT_SCHEMA)
            )

        n_del = deleted_df.count() if has_deletes else 0
        tmp = os.path.join(self.path, "segments.tmp")
        (
            segs.repartition(F.col("seg_id"))
            .sortWithinPartitions("seg_id", "field", "term")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        import shutil

        final = os.path.join(self.path, "segments")
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)

        # one base term_stats over the compacted segments
        tstmp = os.path.join(self.path, "term_stats.tmp")
        term_stats_frame(
            read_table(self.spark, final), parquet_rows(final)
        ).write.mode("overwrite").parquet(tstmp)
        ts_final = os.path.join(self.path, "term_stats")
        shutil.rmtree(ts_final, ignore_errors=True)
        os.rename(tstmp, ts_final)
        # remove deleted rows from the docs table + stats (anti-join — the
        # deleted set never reaches the driver)
        if has_deletes:
            docs = read_table(self.spark, os.path.join(self.path, "docs"))
            kept = docs.join(deleted_df, "doc_id", "left_anti")
            dtmp = os.path.join(self.path, "docs.tmp")
            kept.write.mode("overwrite").parquet(dtmp)
            dfinal = os.path.join(self.path, "docs")
            shutil.rmtree(dfinal, ignore_errors=True)
            os.rename(dtmp, dfinal)
        shutil.rmtree(self._deleted_path(), ignore_errors=True)
        meta = self._meta()
        meta["stats"] = self._segment_stats()
        meta["generations"] = [base_generation(meta["stats"]["n_docs"])]
        meta.pop("merged_stale", None)  # an older layout's flag
        self._write_meta(meta)
        # all generations (and an older layout's merged/ copy) collapsed
        # into the base; meta.json no longer names them
        for d in ("generations", "merged"):
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        append_manifest(
            self.spark, self.path, f"optimize_{int(time.time())}",
            {"rows": n_del, "bytes": -1},
        )
        self._reload_idx()
        return self

    def _reload_idx(self):
        """Swap in a fresh SegmentIndex after a mutation, releasing the
        old snapshot's persisted packed-deletes DataFrame first (otherwise
        every mutation orphans one cached frame in the Spark storage layer
        until the context cleaner gets to it)."""
        old = self._idx
        if old is not None:
            cached = getattr(old, "_packed_del_cache", None)
            if cached is not None:
                try:
                    cached[1].unpersist()
                except Exception:
                    pass
                old._packed_del_cache = None
        self._idx = SegmentIndex.load(self.spark, self.path)

    # ---------------------------------------------------------------- meta
    def _meta(self) -> dict:
        with open(os.path.join(self.path, "meta.json")) as f:
            return json.load(f)

    def _write_meta(self, meta: dict):
        # every meta write is a new generation: the filter doc-set cache
        # (wand._attach_filter_cache) keys on it, so any add/delete-apply/
        # optimize invalidates cached filter results structurally
        #
        # SINGLE-WRITER PROTOCOL: unlike the reference, which serializes
        # concurrent writers with an in-process mutex and lock files
        # (c/src/index.c:6337, c/src/store.c), this index assumes ONE
        # driver-side writer. Every mutator reads meta.json at the start
        # of the call and commits it here; if the on-disk version moved in
        # between, a second writer committed concurrently and this write
        # would silently drop its generations/deletes — fail loudly
        # instead (check-and-fail CAS; see SCALE.md "Writer concurrency").
        mpath = os.path.join(self.path, "meta.json")
        # the read-check-replace below runs under an exclusive flock so two
        # racing writers cannot both pass the version check in the window
        # between json.load and os.replace (the reference's commit lock
        # file, c/src/index.c:832-1006 frt_iw_commit) — the loser of the
        # race observes the winner's bumped version and raises
        import fcntl

        lock_path = os.path.join(self.path, "write.lock")
        with open(lock_path, "w") as lock_f:
            fcntl.flock(lock_f, fcntl.LOCK_EX)
            try:
                if os.path.exists(mpath):
                    with open(mpath) as f:
                        disk_ver = json.load(f).get("version", 0)
                    if disk_ver != meta.get("version", 0):
                        raise ConcurrentWriterError(
                            f"meta.json version moved "
                            f"{meta.get('version', 0)} -> {disk_ver} during "
                            "this operation: another writer committed "
                            "concurrently. FerretIndex requires a single "
                            "writer; serialize index mutations externally."
                        )
                meta["version"] = meta.get("version", 0) + 1
                tmp = mpath + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(meta, f)
                os.replace(tmp, mpath)  # atomic: no torn meta.json on crash
            finally:
                fcntl.flock(lock_f, fcntl.LOCK_UN)
        fc = os.path.join(self.path, "filter_cache")
        if os.path.isdir(fc):
            import shutil

            cur = f"v{meta['version']}"
            for d in os.listdir(fc):
                if d != cur:
                    shutil.rmtree(os.path.join(fc, d), ignore_errors=True)
