"""Public Python API: ingest, stage, query, reports.

Mirrors the reference facade (queens/facade.py) and the API read path
(queens/api/app.py:42-185): validation → forced table_name predicate →
filter compilation → Catalyst-planned scan → service/all-null column
pruning → optional ordered limit + keyset cursor.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession, functions as F

from queens_spark.core.errors import UnknownColumnError
from queens_spark.core.filters import build_filter_expr, filter_key
from queens_spark.core.schema import SCHEMAS, CollectionSchema
from queens_spark.settings import (
    DEFAULT_LIMIT,
    DEFAULT_WAREHOUSE,
    MAX_LIMIT,
    ROW_UID,
    SERVICE_COLUMNS,
)
from queens_spark.store.warehouse import Warehouse

#: Page plans one Engine keeps (see ``Engine.query_page``): enough for
#: every (table, filter) chain a few interactive sessions walk at once.
PAGE_PLAN_MEMO_SIZE = 64


def drop_all_null_columns(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Prune columns that are entirely null in THIS result set with one
    aggregation pass + a narrowed select (P7, queens/api/app.py:180).

    Costs a full pass over *df* — use it on bounded frames (a page, an
    export slice). The hot read path does NOT call it: `Engine.query`
    prunes from the metadata catalog instead, which knows each table's
    populated columns without touching the data."""
    counts = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns]
    ).collect()[0].asDict()
    survivors = [c for c in df.columns if counts[c] > 0 or c in keep]
    return df.select(*survivors)


class Engine:
    """One engine instance per warehouse; schemas are pluggable."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str = DEFAULT_WAREHOUSE,
        schemas: Mapping[str, CollectionSchema] | None = None,
    ):
        self.spark = spark
        self.warehouse = Warehouse(spark, warehouse_root)
        self.schemas = dict(schemas or SCHEMAS)
        # (collection, table, snapshot tokens, filter key) ->
        # (ordered base frame, its columns), least recently used first
        self._page_plans: OrderedDict[tuple, tuple[DataFrame, tuple[str, ...]]] = (
            OrderedDict()
        )
        self._page_plans_lock = threading.Lock()
        # bucketed-table registrations are session-scoped (in-memory
        # catalog); re-create any the warehouse manifest records so the
        # zero-exchange join layout survives session restarts
        import os

        from queens_spark.store.bucketed import MANIFEST_NAME, restore_bucketed

        mdir = os.path.join(warehouse_root, "system")
        if os.path.exists(os.path.join(mdir, MANIFEST_NAME)):
            restore_bucketed(spark, mdir)

    # ------------------------------------------------------------ write

    def schema_for(self, collection: str) -> CollectionSchema:
        if collection not in self.schemas:
            raise UnknownColumnError(f"unknown data collection '{collection}'")
        return self.schemas[collection]

    def ingest(
        self,
        df: DataFrame,
        collection: str,
        table_name: str,
        dedup_text_col: str | None = None,
        dedup_id_col: str | None = None,
        dedup_ledger: str | None = None,
        dedup_near_threshold: float | None = None,
        token: str | None = None,
        max_drift: int | None = None,
        **kw,
    ) -> int | None:
        """Append one logical table's frame to raw (flip-flag
        protocol, store/warehouse.py).

        With *dedup_text_col* + *dedup_id_col*, the frame is screened
        through the persistent dedup ledger INSIDE the ingest — the
        reference's posture that provenance happens inside ingest,
        not beside it (queens/core/read_write.py:267-337): only
        content never accepted by ANY earlier ingest is appended, the
        survivors' fingerprints are recorded, and the screen stats
        land in the version's ``table_description`` in the ingest
        log. *dedup_ledger* names the ledger (default: the
        collection); *dedup_near_threshold* turns on MinHash
        near-dup screening. Returns the ingest_id — or None when the
        WHOLE batch was duplicate: no version is appended then,
        because an empty latest version would blank the staged table
        at the next stage() (latest-wins per table).

        On the dedup path the screened survivors ALSO append to every
        index :meth:`register_index` recorded for *collection* — the
        reference's derived-state-refreshes-inside-the-write posture
        (metadata rebuilt inside staging, queens/core/
        read_write.py:464-531) extended to the serving indexes: one
        ingest verb keeps the ledger, the warehouse, and all
        registered indexes in sync. Each append is O(batch), encoding
        and tokenizing with the STORED index params. *token* makes
        the whole chain idempotent for retries: the ledger replays a
        seen token's acceptance and every index append no-ops once
        applied, so a crash between the ledger flip and the Nth
        index's flip resolves exactly-once for ALL of them on
        re-ingest with the same token (the warehouse may append an
        extra version — harmless: staging is latest-wins per table).
        Plain ingests (no dedup screen) never touch the indexes: the
        screen is what guarantees the id-novelty contract appends
        require.

        *max_drift* (corpus-ingest path only) is ADMISSION CONTROL on
        distribution shape: the raw batch's token-length histogram
        probes READ-ONLY against the stored corpus profile, and a
        score above the gate raises BEFORE any side effect — ledger,
        profile, warehouse, and indexes all untouched, so the batch
        can be inspected and re-offered. Accepted batches still
        record their exact drift in the version description.

        Staging semantics are unchanged: re-ingesting a table_name
        REPLACES it at the next stage(). A corpus built batch-by-batch
        should therefore ingest each screened batch under its own
        table_name (the corpus is the union of tables) — the ledger
        is what makes that union duplicate-free across batches."""
        if (dedup_text_col is None) != (dedup_id_col is None):
            raise ValueError(
                "dedup_text_col and dedup_id_col go together"
            )
        if max_drift is not None and dedup_text_col is None:
            raise ValueError(
                "max_drift gates the corpus-ingest path: pass "
                "dedup_text_col/dedup_id_col with it (the profile the "
                "gate probes is maintained by dedup-screened ingests)"
            )
        if dedup_text_col is not None:
            import json as _json
            import os as _os

            # Pre-flight id-novelty vs every registered cluster map
            # (BEFORE any side effect — the max_drift precedent): the
            # ledger screens CONTENT, so a re-crawled id with EDITED
            # text passes the screen and would then fail the map
            # append AFTER the ledger flip, stranding the composition
            # mid-way (redelivery can't heal a deterministic error).
            # Reject here with ledger/profile/warehouse/indexes all
            # untouched; the supported revision route is
            # retire_documents (or retire_from_cluster_map) for the
            # old ids, then re-offer the batch — retired ids pass this
            # check and re-append cleanly.
            #
            # The check is CONTENT-AWARE: only docs whose fingerprint
            # the ledger has never accepted can survive the screen and
            # reach the map append, so only those count as clashes.
            # That keeps two previously-working flows working: (1) a
            # tokenless at-least-once producer re-offering UNCHANGED
            # content (screens to accepted=0 — a documented no-op) and
            # (2) a token redelivery arriving AFTER maintain()
            # compacted the ledger's token map (the post-compact
            # replay re-screens to accepted=0 — the clear-tokens
            # contract). The fingerprint probe over-approximates
            # survivors only for a revised id whose NEW text near-dups
            # ledger content under dedup_near_threshold — rejected
            # conservatively (it IS a revision attempt). A token still
            # in the ledger's map skips the probe entirely (the first
            # delivery appended these ids; the chain replays
            # idempotently). Cost: one fingerprint pass over the batch
            # plus one members-column read per registered map — the
            # admission-control price, paid once per offered batch.
            _cluster_regs = [
                e for e in self.registered_indexes(collection)
                if e["kind"] == "cluster"
            ]
            if _cluster_regs:
                from queens_spark.store.dedup_ledger import (
                    _read_manifest as _ledger_manifest,
                    ledger_fingerprints,
                )

                _ledger_dir = _os.path.join(
                    self.warehouse.root, "system", "dedup_ledger",
                    dedup_ledger or collection,
                )
                _seen_token = token is not None and str(token) in (
                    _ledger_manifest(_ledger_dir).get("tokens") or {}
                )
                if not _seen_token:
                    from queens_spark.operators.text import doc_fingerprint

                    _known = (
                        ledger_fingerprints(self.spark, _ledger_dir)
                        if (_ledger_manifest(_ledger_dir).get("segments"))
                        else None
                    )
                    for e in _cluster_regs:
                        cm = self.cluster_map(e["name"])
                        mid = cm.entry["id_col"]
                        novel = df.select(
                            F.col(dedup_id_col).alias(mid),
                            doc_fingerprint(dedup_text_col).alias("__fp"),
                        )
                        if _known is not None:
                            novel = novel.join(
                                _known.select(
                                    F.col("fingerprint").alias("__fp")
                                ),
                                "__fp",
                                "left_anti",
                            )
                        clash = (
                            novel.join(
                                cm.members().select(mid), mid, "left_semi"
                            )
                            .limit(5)
                            .collect()
                        )
                        if clash:
                            raise ValueError(
                                "ingest rejected before any side effect: "
                                f"batch ids already live in cluster map "
                                f"{e['name']!r} with CHANGED content "
                                f"(e.g. {[r[mid] for r in clash]}) — "
                                "revising a document needs "
                                "retire_documents on the old ids first, "
                                "then re-offer the batch"
                            )

            if max_drift is not None:
                # admission control on distribution SHAPE, probed
                # read-only BEFORE any side effect (ledger, profile,
                # warehouse all untouched on rejection) — the drift
                # twin of the streaming quality gate. The gate reads
                # the RAW batch; the accepted survivors' drift is
                # still recorded in the version description below.
                from queens_spark.operators.text import token_count
                from queens_spark.store.corpus_profile import peek_drift

                probe = peek_drift(
                    df, token_count(dedup_text_col),
                    self._profiles_dir(), dedup_ledger or collection,
                )
                if probe["drift"] > int(max_drift):
                    raise ValueError(
                        f"ingest rejected: batch drift {probe['drift']} "
                        f"exceeds max_drift={max_drift} vs the corpus "
                        f"profile ({probe['corpus_rows']} rows) — "
                        "inspect the batch or raise the gate"
                    )
            df, stats = self.ingest_deduped(
                df, dedup_text_col, dedup_id_col,
                ledger=dedup_ledger or collection,
                near_dup_threshold=dedup_near_threshold,
                token=token,
            )
            if stats["accepted"] == 0:
                return None
            drift = self._update_corpus_profile(
                df, dedup_text_col, dedup_ledger or collection, token
            )
            blob = (
                "dedup " + _json.dumps(stats, sort_keys=True)
                + " | drift " + _json.dumps(drift, sort_keys=True)
            )
            desc = kw.get("table_description")
            kw["table_description"] = (
                f"{desc} | {blob}" if desc else blob
            )
            ingest_id = self.warehouse.ingest_frame(
                df, self.schema_for(collection), table_name, **kw
            )
            self._refresh_registered_indexes(df, collection, token)
            self._refresh_registered_rollups(collection, table_name, ingest_id)
            return ingest_id
        ingest_id = self.warehouse.ingest_frame(
            df, self.schema_for(collection), table_name, **kw
        )
        self._refresh_registered_rollups(collection, table_name, ingest_id)
        return ingest_id

    def _profiles_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "corpus_profile")

    def _update_corpus_profile(
        self, df: DataFrame, text_col: str, name: str, token: str | None
    ) -> dict:
        """Admission monitoring inside the corpus-ingest verb: fold
        the accepted batch's token-length histogram into the persisted
        corpus profile (store/corpus_profile.py — one counter-width
        aggregation, idempotent under *token*) and return the batch's
        exact drift score vs the pre-batch corpus. The score lands in
        the ingest log's description next to the dedup stats, so a
        distribution shift is visible at the version that introduced
        it."""
        from queens_spark.operators.text import token_count
        from queens_spark.store.corpus_profile import update_profile

        return update_profile(
            df, token_count(text_col), self._profiles_dir(), name,
            token=token, text_col=text_col,
        )

    def corpus_profile(self, name: str) -> dict:
        """The stored corpus profile (histogram + totals) for a
        ledger/collection name — no corpus touch."""
        from queens_spark.store.corpus_profile import read_profile

        return read_profile(self._profiles_dir(), name)

    # -------------------------------------------------------- rollups

    def _rollups_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "rollups")

    def register_rollup(
        self, collection: str, name: str, keys: list[str], values: list[str]
    ) -> dict:
        """Register an incrementally-maintained GROUP-BY rollup
        (store/rollup.py): every later ingest folds its batch in as a
        partial-aggregate segment (O(batch)), and :meth:`rollup`
        serves the aggregate over exactly the ingests staging would
        pick — latest version per table, full ``as_of`` time travel —
        from counter-width partials, never a raw re-scan."""
        from queens_spark.store.rollup import register_rollup

        return register_rollup(
            self._rollups_dir(), collection, name, keys, values
        )

    def _refresh_registered_rollups(
        self, collection: str, table_name: str, ingest_id: int
    ) -> None:
        """Derived state refreshes inside the write (the reference's
        staging-metadata posture, queens/core/read_write.py:464-531):
        each registered rollup gets this ingest's partial segment,
        computed from the batch READ BACK from raw (pushed table_name
        partition filter) so partials reflect the coerced bytes that
        landed. A crash here is safe — serving repairs missing
        segments lazily through the identical path."""
        from queens_spark.store.rollup import (
            registered_rollups,
            update_rollup_segment,
        )

        reg = registered_rollups(self._rollups_dir(), collection)
        if not reg:
            return
        batch = self.warehouse.read_raw(collection).where(
            (F.col("table_name") == table_name)
            & (F.col("ingest_id") == int(ingest_id))
        )
        for name in reg:
            update_rollup_segment(
                batch, self._rollups_dir(), collection, name, ingest_id
            )

    def rollup(self, collection: str, name: str, as_of=None) -> DataFrame:
        """Serve a registered rollup: merge the winning ingests'
        partial segments (repairing any a crash left missing). The
        result equals the same GROUP BY over the staged snapshot at
        *as_of* — without scanning it."""
        from queens_spark.store.rollup import serve_rollup

        return serve_rollup(
            self.spark, self.warehouse, self._rollups_dir(),
            collection, name, as_of=as_of,
        )

    # --------------------------------------------------- index registry

    def _registry_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system")

    def register_index(self, collection: str, kind: str, name: str) -> None:
        """Persist that *collection*'s ingests must keep the *kind*
        ("text"/"vector") index *name* fresh (store/index_registry.py;
        restored by any later session from the warehouse manifest).
        The index must already be built — a typo fails HERE, not
        silently at every later ingest."""
        from queens_spark.store.index_registry import register_index

        if kind == "text":
            self.text_index(name)
        elif kind == "vector":
            self.vector_index(name)
        elif kind == "sketch":
            self.sketch_store(name)
        elif kind == "cluster":
            self.cluster_map(name)
        elif kind == "ecdf":
            self.ecdf_store(name)
        register_index(self._registry_dir(), collection, kind, name)

    def unregister_index(self, collection: str, kind: str, name: str) -> bool:
        from queens_spark.store.index_registry import unregister_index

        return unregister_index(self._registry_dir(), collection, kind, name)

    def registered_indexes(self, collection: str) -> list[dict]:
        from queens_spark.store.index_registry import registered_indexes

        return registered_indexes(self._registry_dir(), collection)

    def _index_appends(self, collection: str):
        """One token-idempotent append callable per registered index,
        in deterministic (kind, name) order. Column names come from
        each index's own manifest, so the caller only supplies the
        screened frame."""
        from queens_spark.store.index_registry import registered_indexes

        appends = []
        for e in registered_indexes(self._registry_dir(), collection):
            if e["kind"] == "cluster":
                appends.append(
                    lambda fresh, token, n=e["name"]: self.append_cluster_map(
                        fresh, n, token=token
                    )
                )
            elif e["kind"] == "ecdf":
                appends.append(
                    lambda fresh, token, n=e["name"]: self.append_ecdf_store(
                        fresh, n, token=token
                    )
                )
            elif e["kind"] == "sketch":
                from queens_spark.store.sketch_store import (
                    append_sketch_store,
                )

                # the store's manifest knows its group/key columns;
                # the screened frame must carry them
                appends.append(
                    lambda fresh, token, n=e["name"]: append_sketch_store(
                        self.spark, fresh, self._sketch_store_dir(), n,
                        token=token,
                    )
                )
            elif e["kind"] == "text":
                from queens_spark.store.text_index import append_text_index

                appends.append(
                    lambda fresh, token, n=e["name"]: append_text_index(
                        fresh, n, self._text_index_dir(), token=token
                    )
                )
            else:
                from queens_spark.store.vector_index import (
                    append_vector_index,
                )

                appends.append(
                    lambda fresh, token, n=e["name"]: append_vector_index(
                        fresh, n, self._vector_index_dir(), token=token
                    )
                )
        return appends

    def _refresh_registered_indexes(
        self, fresh: DataFrame, collection: str, token: str | None
    ) -> int:
        """Append the screened survivors to every registered index
        under the batch's idempotency token. Returns how many indexes
        were refreshed."""
        appends = self._index_appends(collection)
        for append in appends:
            append(fresh, token)
        return len(appends)

    def _takedown_dir(self, collection: str) -> str:
        from queens_spark.store.takedown import takedown_dir

        return takedown_dir(self.warehouse.root, collection)

    def _resolve_doc_id_col(self, collection: str) -> str | None:
        """The collection's canonical document id column, read from
        the first registered store's own manifest (text, then vector,
        then cluster — the predicate-resolution order)."""
        import os

        regs = self.registered_indexes(collection)
        for kind in ("text", "vector", "cluster"):
            for e in regs:
                if e["kind"] != kind:
                    continue
                if kind == "text":
                    from queens_spark.store.text_index import (
                        _read_manifest as _rm,
                    )

                    ent = _rm(self._text_index_dir()).get(e["name"]) or {}
                elif kind == "vector":
                    from queens_spark.store.vector_index import (
                        _read_manifest as _rm,
                    )

                    ent = _rm(self._vector_index_dir()).get(e["name"]) or {}
                else:
                    from queens_spark.store.cluster_map import (
                        _read_manifest as _rm,
                    )

                    ent = (
                        _rm(os.path.join(self._cluster_maps_dir(), e["name"]))
                        or {}
                    ).get("current") or {}
                if ent.get("id_col"):
                    return ent["id_col"]
        return None

    def _pending_takedown(
        self, collection: str, staged: dict | None = None
    ) -> tuple[str | None, int | None]:
        """The takedown dir and its manifest ``seq`` when retired ids
        might still be visible in PROD (live segments whose seq the
        staged manifest has not yet absorbed) — the query-path filter
        gate; ``(None, None)`` keeps untouched collections' plans
        byte-identical (no join added). *staged* is the staged
        manifest when the caller has read it already."""
        from queens_spark.store.takedown import read_manifest

        tdir = self._takedown_dir(collection)
        m = read_manifest(tdir)
        if not (m.get("segments") or []):
            return None, None
        if staged is None:
            staged = self.warehouse._read_manifest(collection) or {}
        seq = int(m.get("seq", 0))
        if int(staged.get("takedown_seq", 0)) == seq:
            return None, None  # prod already reflects every segment
        return tdir, seq

    def _pending_takedown_dir(self, collection: str) -> str | None:
        return self._pending_takedown(collection)[0]

    def _purge_takedowns(self, collection: str) -> dict:
        """Apply the collection's pending takedown segments PHYSICALLY
        (``maintain``'s step 0): rewrite the affected raw table
        partitions through the coverage-scoped survivor filter,
        restage so prod drops the bytes too (the artifact is still
        live during the restage, so a crash in between leaves the
        serving filter on — never a re-serve window), then clear the
        segments. Idempotent; O(affected tables)."""
        from queens_spark.store.takedown import (
            clear_segments,
            live_segments,
            read_manifest,
            retired_frame,
        )

        tdir = self._takedown_dir(collection)
        segs = live_segments(tdir)
        if not segs:
            return {"purged_tables": [], "segments_cleared": 0}
        frame = retired_frame(self.spark, tdir)
        m = read_manifest(tdir)
        tables = sorted({t for s in segs for t in (s.get("tables") or [])})
        purged = (
            self.warehouse.purge_rows(
                collection, frame, m["id_col"], tables
            )
            if tables else []
        )
        if self.warehouse.is_staged(collection):
            self.stage(collection)
        cleared = clear_segments(tdir)
        return {"purged_tables": purged, "segments_cleared": cleared}

    def retire_documents(
        self,
        collection: str,
        ids=None,
        ledger: str | None = None,
        block: bool = False,
        block_near_threshold: float | None = None,
        predicate=None,
        id_col: str | None = None,
    ) -> dict:
        """The one-verb document TAKEDOWN across the whole retrieval
        stack AND the primary query surface: tombstone *ids* out of
        every index registered for *collection* (BM25 / ANN / hybrid
        stop serving them immediately — scores equal a rebuild on the
        survivors), retire them from every registered CLUSTER MAP
        (members/canonical/edges re-serve exactly a rebuild on the
        survivors — store/cluster_map.retire_cluster_map), DECREMENT
        the counter stores exactly (registered ECDF grids, the corpus
        profile, registered rollups — each re-serves a
        rebuild-on-survivors, computed from the doomed rows read back
        from the warehouse's accepted batches), retire the
        fingerprints from the dedup ledger (equivalent content may
        re-enter on a later crawl), and persist the doomed-id set as
        the collection's TAKEDOWN artifact (store/takedown.py) so
        :meth:`query` / :meth:`query_page` / exports stop serving the
        retired rows immediately, :meth:`stage` bakes the filter into
        prod, and :meth:`maintain` physically purges the bytes. KMV
        sketches genuinely cannot subtract — they are flagged
        retired-pending-rebuild and :meth:`status` reports them stale
        instead of silent.

        The doomed set is resolved ONCE and stays a FRAME end to end
        — *ids* may be a list, or a single-column DataFrame, or
        *predicate* (SQL over a registered text index's ``meta_cols``,
        falling back to the collection's own warehouse columns when no
        text index is registered — the retention/expiry flow needs no
        lexical index) resolves it with no driver-side
        materialisation: a legal takedown is thousands of ids, but a
        retention/expiry purge can be corpus-scale, and every store
        verb consumes the persisted artifact (provably the same set,
        no broadcast hints — AQE sizes the joins). With *block*, the
        takedown STAYS down via the ledger blocklist. Returns
        per-store outcomes."""
        if (ids is None) == (predicate is None):
            raise ValueError("pass exactly one of ids= or predicate=")
        import os

        from pyspark.sql import DataFrame as _DF, functions as _F

        from queens_spark.store.dedup_ledger import (
            add_to_blocklist,
            delete_from_ledger,
            ledger_fingerprints,
        )
        from queens_spark.store.takedown import record_takedown

        regs = self.registered_indexes(collection)
        empty = {"indexes": [], "ledger_rows_retired": 0,
                 "retired_count": 0}
        if predicate is not None:
            text = [e for e in regs if e["kind"] == "text"]
            if text:
                idx = self.text_index(text[0]["name"])
                doomed0 = (
                    idx._filtered(idx.postings(), predicate)
                    .select(idx.id_col).distinct()
                )
            else:
                # retention/expiry WITHOUT a lexical index: resolve
                # the predicate against the warehouse's own raw
                # columns (one column-pruned scan) — a collection
                # with only counter/vector stores, or none at all,
                # can still expire by metadata
                if not self.warehouse.table_exists(collection):
                    raise ValueError(
                        "predicate retirement needs a registered text "
                        "index or an ingested warehouse collection to "
                        "resolve the predicate against"
                    )
                rid = id_col or self._resolve_doc_id_col(collection)
                if rid is None:
                    raise ValueError(
                        "pass id_col= — no registered store declares "
                        f"the document id column for {collection!r}"
                    )
                raw0 = self.warehouse.read_raw(collection)
                cond = (
                    predicate if not isinstance(predicate, str)
                    else F.expr(predicate)
                )
                doomed0 = raw0.where(cond).select(rid).distinct()
        elif isinstance(ids, _DF):
            doomed0 = ids
        else:
            ids = list(ids)
            if not ids:
                return empty
            doomed0 = self.spark.createDataFrame(
                [(int(i),) for i in ids], "doc_id bigint"
            )
        id_col = (
            id_col or self._resolve_doc_id_col(collection)
            or doomed0.columns[0]
        )

        from queens_spark.store.takedown import retired_frame

        raw = (
            self.warehouse.read_raw(collection)
            if self.warehouse.table_exists(collection)
            else None
        )
        covers = (
            self.warehouse.next_ingest_id(collection) - 1
            if raw is not None else 0
        )
        # rows prior live takedowns already hide — captured BEFORE the
        # new segment lands so the counter decrements below never
        # double-subtract a re-retired id (its rows were decremented
        # by the takedown that first covered them)
        prior = retired_frame(self.spark, self._takedown_dir(collection))
        td = record_takedown(
            self.spark, self._takedown_dir(collection), doomed0,
            id_col, raw, covers,
        )
        if td["n_ids"] == 0:
            return empty
        # every store retires THIS stored set — the artifact is the
        # single source of truth for the whole takedown
        doomed = self.spark.read.parquet(td["path"]).select(id_col)
        doomed_rows = None
        if raw is not None and id_col in raw.columns and td["tables"]:
            doomed_rows = raw.where(
                F.col("table_name").isin(td["tables"])
            ).join(doomed, id_col, "semi")
            if prior is not None:
                doomed_rows = doomed_rows.join(
                    prior,
                    (doomed_rows[id_col] == prior[id_col])
                    & (doomed_rows["ingest_id"] <= prior["__covers"]),
                    "left_anti",
                )

        report = {
            "indexes": [],
            "ledger_rows_retired": 0,
            "retired_count": int(td["n_ids"]),
            "takedown": {"tables": td["tables"], "pending_purge": True},
        }
        ledger_dir = os.path.join(
            self.warehouse.root, "system", "dedup_ledger",
            ledger or collection,
        )
        for e in regs:
            if e["kind"] == "sketch":
                # KMV bottom-k genuinely cannot subtract an element
                # (the hashes below the kept k are gone) — flag the
                # staleness loudly instead of silently over-counting
                from queens_spark.store.sketch_store import (
                    mark_retired_pending_rebuild,
                )

                mark_retired_pending_rebuild(
                    self._sketch_store_dir(), e["name"]
                )
                report["indexes"].append(
                    f"sketch:{e['name']} (skipped, flagged stale)"
                )
                continue
            if e["kind"] == "ecdf":
                # histogram counters CAN subtract exactly: evaluate
                # the store's own value_sql on the doomed rows (still
                # readable pre-purge) and write the decrement — serves
                # equal a rebuild on the survivors
                if doomed_rows is None:
                    report["indexes"].append(
                        f"ecdf:{e['name']} (decremented 0 rows)"
                    )
                    continue
                from pyspark.errors import AnalysisException

                from queens_spark.store.ecdf_store import (
                    retire_from_ecdf_store,
                )

                try:
                    retire_from_ecdf_store(
                        self.spark, doomed_rows,
                        self._ecdf_store_dir(), e["name"],
                    )
                    report["indexes"].append(f"ecdf:{e['name']} (decremented)")
                except AnalysisException:
                    # value_sql references columns the collection's
                    # raw table does not carry (store built from a
                    # different frame) — an exact decrement is not
                    # derivable; the rebuild route applies
                    report["indexes"].append(
                        f"ecdf:{e['name']} (skipped: value columns "
                        "not in warehouse rows)"
                    )
                continue
            if e["kind"] == "cluster":
                # coverage-scoped retirement: members/canonical/edges
                # re-serve exactly a rebuild on the survivors (CC
                # re-runs over the affected components' stored edges;
                # hot-shingle un-flips handled — store/cluster_map.py:
                # retire_cluster_map); retired ids may re-append later
                # (the document-revision route)
                from queens_spark.store.cluster_map import (
                    retire_cluster_map,
                )

                retire_cluster_map(
                    self.spark,
                    os.path.join(self._cluster_maps_dir(), e["name"]),
                    doomed,
                )
            elif e["kind"] == "text":
                self.delete_from_text_index(e["name"], ids=doomed)
            else:
                self.delete_from_vector_index(e["name"], ids=doomed)
            report["indexes"].append(f"{e['kind']}:{e['name']}")

        # registered rollups: overwrite the affected winner segments
        # with survivor partials (min/max cannot subtract, but the
        # doomed rows are still readable — one anti-joined partial agg
        # per affected winner ingest, O(affected batches))
        from queens_spark.store.rollup import (
            _winner_ingests,
            registered_rollups,
            update_rollup_segment,
        )

        rollup_reg = registered_rollups(self._rollups_dir(), collection)
        if rollup_reg and doomed_rows is not None:
            affected = set(td["tables"])
            # survivor partials must exclude EVERY live takedown, not
            # just this one — recomputing against only the current ids
            # would resurrect an earlier (unpurged) takedown's rows
            all_retired = retired_frame(
                self.spark, self._takedown_dir(collection)
            )
            for wi in _winner_ingests(self.warehouse, collection):
                if wi["table_name"] not in affected:
                    continue
                batch = raw.where(
                    (F.col("table_name") == wi["table_name"])
                    & (F.col("ingest_id") == wi["ingest_id"])
                )
                batch = batch.join(
                    all_retired,
                    (batch[id_col] == all_retired[id_col])
                    & (batch["ingest_id"] <= all_retired["__covers"]),
                    "left_anti",
                )
                for rname in rollup_reg:
                    update_rollup_segment(
                        batch, self._rollups_dir(), collection, rname,
                        wi["ingest_id"],
                    )
            report["rollups_recomputed"] = sorted(rollup_reg)

        # corpus profile: exact counter decrement at the profile's own
        # geometry, from the value column it recorded at update time
        from queens_spark.store.corpus_profile import (
            read_profile,
            retire_from_profile,
        )

        prof = read_profile(self._profiles_dir(), ledger or collection)
        if prof.get("hist") and doomed_rows is not None:
            tc = prof.get("text_col")
            if tc and tc in doomed_rows.columns:
                from queens_spark.operators.text import token_count

                # the profile folds ONLY dedup-screened ingests (the
                # update fires inside Engine.ingest's dedup path, and
                # those ingests stamp their dedup stats into the
                # version description) — restrict the decrement to
                # rows of exactly those ingests, or a plainly-ingested
                # row would subtract mass the profile never added
                dedup_iids = (
                    self.warehouse.read_log(collection)
                    .where(
                        (F.col("success") == 1)
                        & F.col("table_description").contains("dedup {")
                    )
                    .select("ingest_id")
                )
                r = retire_from_profile(
                    doomed_rows.join(dedup_iids, "ingest_id", "semi"),
                    token_count(tc),
                    self._profiles_dir(), ledger or collection,
                )
                report["profile_decremented_rows"] = r["decremented_rows"]

        if block:
            # fetch the doomed rows' fingerprints BEFORE the ledger
            # delete hides them; a minhash ledger's sigs ride along so
            # block_near_threshold can near-ban with no recompute. No
            # broadcast hint — a retention purge can be corpus-scale
            live = ledger_fingerprints(self.spark, ledger_dir)
            if live is not None:
                lid = [
                    c for c in live.columns
                    if c not in ("fingerprint", "sig")
                ][0]
                hit = live.join(
                    doomed.select(_F.col(id_col).alias(lid)), lid, "semi"
                )
                report["blocked_fingerprints"] = add_to_blocklist(
                    self.spark, ledger_dir,
                    hit.select(
                        "fingerprint",
                        *(["sig"] if "sig" in hit.columns else []),
                    ),
                    near_threshold=block_near_threshold,
                )
        report["ledger_rows_retired"] = delete_from_ledger(
            self.spark, ledger_dir, doomed
        )
        return report

    def search_page(
        self,
        text_index_name: str,
        vector_index_name: str,
        query_terms: list[str],
        query_vec: list[float],
        k: int = 10,
        pool: int = 50,
        rrf_k: int = 60,
        snippet_window: int | None = None,
    ) -> DataFrame:
        """The full RESULT-PAGE verb: :meth:`hybrid_search`'s fused
        BM25+ANN top-*k*, with each hit's best *snippet_window*-token
        highlight location attached (positional text index required
        when requested). The snippet pass reuses the same bucket-pruned
        postings scan restricted to the PAGE's ids (k ids collected —
        it IS the page), so the whole response is stored-index reads:
        no tokenize, no encode, corpus untouched. Hits the lexical
        side never matched carry NULL window_start/n_hits (a
        vector-only hit has no term to highlight). Returns
        (doc, rrf_e12, rank_0, rank_1[, window_start, n_hits]) in
        fused order."""
        fused = self.hybrid_search(
            text_index_name, vector_index_name, query_terms, query_vec,
            k=k, pool=pool, rrf_k=rrf_k,
        )
        if snippet_window is None:
            return fused
        ids = [r["doc"] for r in fused.collect()]
        if not ids:
            return fused.withColumn(
                "window_start", F.lit(None).cast("bigint")
            ).withColumn("n_hits", F.lit(None).cast("bigint"))
        wins = self.text_index(text_index_name).snippet_topk(
            query_terms, k=len(ids), window=snippet_window,
            doc_ids=ids,
        )
        return (
            fused.join(F.broadcast(wins), "doc", "left")
            .orderBy(F.desc("rrf_e12"), F.asc("doc"))
        )

    def _transport_dir(self, kind: str) -> str:
        return {
            "text": self._text_index_dir(),
            "vector": self._vector_index_dir(),
            "sketch": self._sketch_store_dir(),
            "ecdf": self._ecdf_store_dir(),
        }[kind]

    def export_index(self, kind: str, name: str, dest: str) -> str:
        """Ship a stored index/profile ("text"/"vector"/"sketch"/
        "ecdf") as a self-contained relocatable bundle (artifacts +
        rebased manifest entry) — the promote/backup flow: validate in
        staging, copy ARTIFACTS to prod, never rebuild
        (store/index_transport.py). Cluster maps ship via
        :meth:`export_map`."""
        from queens_spark.store.index_transport import export_index

        return export_index(self._transport_dir(kind), name, dest,
                            kind=kind)

    def import_index(self, src: str, name: str | None = None) -> str:
        """Install an exported bundle into THIS warehouse (tree copies
        first, manifest flips last); serves immediately via the
        matching load verb."""
        import json as _json
        import os

        from queens_spark.store.index_transport import import_index

        with open(os.path.join(src, "bundle.json")) as fh:
            kind = _json.load(fh)["kind"]
        return import_index(self._transport_dir(kind), src, name=name)

    def export_map(self, name: str, dest: str) -> str:
        """Ship a stored cluster map as a relocatable bundle — the
        match artifacts travel too, so the destination can APPEND
        without reclustering (store/index_transport.py:export_map)."""
        from queens_spark.store.index_transport import export_map

        return export_map(self._cluster_maps_dir(), name, dest)

    def import_map(self, src: str, name: str | None = None) -> str:
        """Install an exported cluster-map bundle; serves via
        :meth:`cluster_map` and accepts further appends immediately."""
        from queens_spark.store.index_transport import import_map

        return import_map(self._cluster_maps_dir(), src, name=name)

    def export_run(self, name: str, dest: str) -> str:
        """Ship a training run (packed shards + attached release
        report + checksums) as one relocatable bundle — the release
        drop travels to the training cluster with the same transport
        treatment indexes get (store/index_transport.py:export_run)."""
        from queens_spark.store.index_transport import export_run

        return export_run(self._training_runs_dir(), name, dest)

    def import_run(self, src: str, name: str | None = None) -> str:
        """Install an exported run bundle into THIS warehouse; serve
        via :meth:`training_run` — ``run.verify()`` re-checks the
        shipped bytes against the traveled checksums."""
        from queens_spark.store.index_transport import import_run

        return import_run(self._training_runs_dir(), src, name=name)

    def block_texts(
        self,
        collection: str,
        texts: list[str],
        near_threshold: float | None = None,
        ledger: str | None = None,
    ) -> int:
        """Pre-emptively ban content by raw text on *collection*'s
        dedup ledger (normalization-equivalent text is dropped from
        every later ingest, reported as ``stats["blocked"]``); with
        *near_threshold*, MinHash signatures ride along and trivial
        edits of the banned text are dropped too
        (store/dedup_ledger.py:block_texts)."""
        import os

        from queens_spark.store.dedup_ledger import block_texts

        return block_texts(
            self.spark,
            os.path.join(
                self.warehouse.root, "system", "dedup_ledger",
                ledger or collection,
            ),
            texts,
            near_threshold=near_threshold,
        )

    def _max_registered_segments(self, collection: str) -> int:
        """Largest segment count across the collection's registered
        indexes — the fragmentation signal auto-maintenance triggers
        on. Manifest-only (no Spark job)."""
        from queens_spark.store.text_index import load_text_index
        from queens_spark.store.vector_index import (
            _paths,
            load_vector_index,
        )

        worst = 0
        for e in self.registered_indexes(collection):
            if e["kind"] in ("sketch", "ecdf"):
                continue  # single merged artifact, nothing fragments
            if e["kind"] == "cluster":
                # delta segments accumulate per append; maintain's
                # compaction folds them back to one
                cm = self.cluster_map(e["name"])
                worst = max(worst, len(cm.entry["segments"]))
                continue
            if e["kind"] == "text":
                idx = load_text_index(
                    self.spark, self._text_index_dir(), e["name"]
                )
                worst = max(worst, len(idx.entry["segments"]))
            else:
                idx = load_vector_index(
                    self.spark, self._vector_index_dir(), e["name"]
                )
                worst = max(
                    worst, len(_paths(idx.entry["pq_codes_path"]))
                )
        return worst

    def stream_ingest_corpus(
        self,
        stream_df: DataFrame,
        collection: str,
        text_col: str,
        id_col: str,
        checkpoint: str,
        ledger: str | None = None,
        near_dup_threshold: float | None = None,
        query_name: str = "qs_corpus_ingest",
        auto_maintain_segments: int | None = None,
        quality_filter=None,
    ):
        """Registry-driven streaming corpus ingestion: every
        micro-batch is screened through *collection*'s dedup ledger
        and its survivors appended to EVERY index registered for the
        collection, all under the batch's idempotency token
        (streaming/corpus.py exactly-once contract). Register the
        indexes first; restarting with the same *checkpoint* resumes
        exactly-once on the ledger AND every index.

        *auto_maintain_segments* makes the stream SELF-MAINTAINING:
        after a batch lands, if any registered index has grown past
        that many segments, :meth:`maintain` runs right there — inside
        ``foreachBatch`` the pipeline is caught up by construction
        (this batch's token just applied everywhere, earlier batches
        applied before theirs returned), so the pending-token gate
        passes and the token bookkeeping clears safely. A micro-batch
        cadence of appends no longer accretes unbounded segment lists
        or manifest token maps without a separately-scheduled sweep.

        *quality_filter* (Column or SQL string) is the streaming
        ADMISSION GATE applied before the ledger — e.g.
        ``filter_verdict(text_col) == 'keep'`` turns the stream into
        curation + dedup + index freshness in one verb; rejected docs
        never consume ledger segments or index bytes."""
        import os

        from queens_spark.streaming.corpus import make_corpus_batch_handler

        appends = self._index_appends(collection)
        if not appends:
            raise ValueError(
                f"no indexes registered for collection {collection!r}; "
                "call register_index first (or use "
                "streaming.corpus.stream_ingest_corpus directly)"
            )
        ledger_dir = os.path.join(
            self.warehouse.root, "system", "dedup_ledger",
            ledger or collection,
        )

        def profile_append(fresh: DataFrame, token: str) -> None:
            # admission monitoring rides the same token-idempotent
            # append contract as the indexes: the accepted batch's
            # histogram folds into the persisted corpus profile
            # exactly-once under redelivery (store/corpus_profile.py)
            self._update_corpus_profile(
                fresh, text_col, ledger or collection, token
            )

        inner = make_corpus_batch_handler(
            text_col, id_col, ledger_dir, appends + [profile_append],
            near_dup_threshold=near_dup_threshold,
            query_name=query_name,
            quality_filter=quality_filter,
        )
        if auto_maintain_segments is None:
            handle = inner
        else:
            cap = int(auto_maintain_segments)
            if cap < 1:
                raise ValueError(
                    f"auto_maintain_segments must be >= 1, got {cap}"
                )

            def handle(batch_df: DataFrame, batch_id: int) -> None:
                inner(batch_df, batch_id)
                if self._max_registered_segments(collection) > cap:
                    self.maintain(collection, ledger=ledger)

        return (
            stream_df.writeStream.foreachBatch(handle)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def stage(self, collection: str, as_of=None) -> list[str]:
        from queens_spark.store.takedown import (
            read_manifest,
            retired_frame,
            tables_changed_since,
        )

        tdir = self._takedown_dir(collection)
        m = read_manifest(tdir)
        takedown = None
        if m:
            staged = self.warehouse._read_manifest(collection) or {}
            takedown = {
                "seq": int(m.get("seq", 0)),
                "changed_tables": tables_changed_since(
                    tdir, int(staged.get("takedown_seq", 0))
                ),
                "frame": retired_frame(self.spark, tdir),
                "id_col": m.get("id_col"),
            }
        return self.warehouse.stage(
            self.schema_for(collection), as_of, takedown=takedown
        )

    # ---------------------------------------------------- vector index

    def _vector_index_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "vector_index")

    def build_vector_index(
        self, df: DataFrame, vec_col: str, id_col: str, name: str, **kw
    ):
        """Build (or refresh) a named ANN index as a warehouse artifact
        (store/vector_index.py): one encode pass now, pure index reads
        from any later session via :meth:`vector_index`."""
        from queens_spark.store.vector_index import build_vector_index

        return build_vector_index(
            df, vec_col, id_col, name, self._vector_index_dir(), **kw
        )

    def ingest_deduped(
        self,
        df: DataFrame,
        text_col: str,
        id_col: str,
        ledger: str = "documents",
        near_dup_threshold: float | None = None,
        token: str | None = None,
    ):
        """Incremental corpus building: screen *df* against the named
        persistent dedup ledger (everything accepted in ANY earlier
        run), accept only new content, and record its fingerprints
        crash-safely (store/dedup_ledger.py). With
        *near_dup_threshold*, MinHash near-duplicates of ledger
        content are screened too; *token* makes redelivered batches
        idempotent (streaming/corpus.py contract). Returns
        (fresh_df, stats)."""
        import os

        from queens_spark.store.dedup_ledger import ingest_deduped

        return ingest_deduped(
            df, text_col, id_col,
            os.path.join(
                self.warehouse.root, "system", "dedup_ledger", ledger
            ),
            near_dup_threshold=near_dup_threshold,
            token=token,
        )

    def append_vector_index(self, df_new: DataFrame, name: str, **kw):
        """Incremental refresh: encode ONLY *df_new* with the stored
        codebook/quantizers and add it as a new segment of the named
        index — O(new-data) per ingest, bit-identical to a full
        rebuild on the grown corpus."""
        from queens_spark.store.vector_index import append_vector_index

        return append_vector_index(
            df_new, name, self._vector_index_dir(), **kw
        )

    def delete_from_vector_index(
        self, name: str, ids: list | None = None, predicate=None
    ):
        """Tombstone vectors out of the named index (by explicit ids
        or a meta_cols predicate): every search excludes them
        immediately; :func:`compact_vector_index` later applies the
        deletes physically. Re-appending a deleted id serves the new
        vector."""
        from queens_spark.store.vector_index import (
            delete_from_vector_index,
        )

        return delete_from_vector_index(
            self.spark, self._vector_index_dir(), name,
            ids=ids, predicate=predicate,
        )

    def retrain_vector_index(
        self, df: DataFrame, name: str, coarse_iters: int = 1
    ):
        """Retrain the named index's IVF cells in place (no
        re-encode): the cell_stats()-says-skewed maintenance op."""
        from queens_spark.store.vector_index import (
            retrain_coarse_quantizer,
        )

        return retrain_coarse_quantizer(
            df, name, self._vector_index_dir(), coarse_iters=coarse_iters
        )

    def vector_index(self, name: str, expected_fingerprint: str | None = None):
        """Load a previously built ANN index from the warehouse
        manifest — no corpus touch, no encode stage in search plans."""
        from queens_spark.store.vector_index import load_vector_index

        return load_vector_index(
            self.spark, self._vector_index_dir(), name,
            expected_fingerprint=expected_fingerprint,
        )

    # ------------------------------------------------------ text index

    def _text_index_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "text_index")

    def build_text_index(
        self, df: DataFrame, text_col: str, id_col: str, name: str, **kw
    ):
        """Build (or refresh) a named lexical postings index as a
        warehouse artifact (store/text_index.py): one tokenize pass
        now, BM25 served from bucket-pruned postings scans in any
        later session via :meth:`text_index`."""
        from queens_spark.store.text_index import build_text_index

        return build_text_index(
            df, text_col, id_col, name, self._text_index_dir(), **kw
        )

    def append_text_index(self, df_new: DataFrame, name: str, **kw):
        """Incremental refresh: tokenize ONLY *df_new* and add it as a
        new postings segment — O(new-data) per ingest, searches over
        the grown corpus bit-identical to a full rebuild."""
        from queens_spark.store.text_index import append_text_index

        return append_text_index(df_new, name, self._text_index_dir(), **kw)

    def delete_from_text_index(
        self, name: str, ids: list | None = None, predicate=None
    ):
        """Tombstone documents out of the named postings index (by
        explicit ids or a meta_cols predicate): BM25 serving excludes
        them immediately (scores exactly equal a rebuild on the
        survivors); compact_text_index applies the deletes
        physically."""
        from queens_spark.store.text_index import delete_from_text_index

        return delete_from_text_index(
            self.spark, self._text_index_dir(), name,
            ids=ids, predicate=predicate,
        )

    def text_index(self, name: str, expected_fingerprint: str | None = None):
        """Load a previously built postings index from the warehouse
        manifest — no corpus touch, no tokenize stage in search
        plans."""
        from queens_spark.store.text_index import load_text_index

        return load_text_index(
            self.spark, self._text_index_dir(), name,
            expected_fingerprint=expected_fingerprint,
        )

    def hybrid_search(
        self,
        text_index_name: str,
        vector_index_name: str,
        query_terms: list[str],
        query_vec: list[float],
        k: int = 10,
        pool: int = 50,
        rrf_k: int = 60,
    ):
        """Production hybrid retrieval over the warehouse's STORED
        indexes (the q111 shape as an API): a BM25 pool from the
        postings index and an ADC pool from the vector index, fused
        with scaled-integer reciprocal ranks
        (operators/retrieval.py:rrf_fuse). Both pools are TakeOrdered
        heads read from stored artifacts — no tokenize and no encode
        stage anywhere; the fusion joins ≤ 2·pool rows. Requires both
        indexes built over the same document ids."""
        from queens_spark.operators.retrieval import rrf_fuse

        tidx = self.text_index(text_index_name)
        vidx = self.vector_index(vector_index_name)
        bm = tidx.bm25_topk(query_terms, k=pool).select(
            F.col("doc").alias("__id"), "bm25_e5"
        )
        ad = vidx.adc_topk(query_vec, k=pool).select(
            F.col(vidx.id_col).alias("__id"), "adist"
        )
        return rrf_fuse(
            [(bm, "bm25_e5", False), (ad, "adist", True)],
            "__id", k=k, rrf_k=rrf_k,
        ).withColumnRenamed("__id", "doc")

    # ------------------------------------------------- cluster maps

    def _cluster_maps_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "cluster_map")

    def build_cluster_map(
        self, df: DataFrame, text_col: str, id_col: str, name: str, **kw
    ):
        """Persist *df*'s dedup clustering (full-recall components +
        quality-aware canonicals + normalized edges) as a named
        warehouse artifact (store/cluster_map.py): the expensive
        clustering pass runs now, every later consumer — duplicate
        filters, cluster-aware splits, leakage audits, graph stats —
        reads counter-width artifacts."""
        import os

        from queens_spark.store.cluster_map import build_cluster_map

        return build_cluster_map(
            df, text_col, id_col,
            os.path.join(self._cluster_maps_dir(), name), **kw,
        )

    def append_cluster_map(
        self, df: DataFrame, name: str, token: str | None = None
    ):
        """Fold a NEW batch into the stored map (store/cluster_map.py:
        append_cluster_map) — bit-identical to a full rebuild on the
        union at the map's frozen params, O(batch + affected) cost,
        zero old-corpus text access. Batch ids must be novel (the
        registry ingest path guarantees it); a replayed *token*
        no-ops. Register the map with kind ``"cluster"``
        (:meth:`register_index`) and every dedup-screened ingest keeps
        it fresh automatically."""
        import os

        from queens_spark.store.cluster_map import append_cluster_map

        return append_cluster_map(
            df.select(*self._cluster_map_cols(name)),
            os.path.join(self._cluster_maps_dir(), name),
            token=token,
        )

    def retire_from_cluster_map(self, name: str, ids: list):
        """Coverage-scoped takedown on ONE named map (the store-level
        verb behind :meth:`retire_documents`'s cluster dispatch):
        members/canonical/edges re-serve exactly a rebuild on the
        survivors at the frozen params; retired ids may re-append
        later (store/cluster_map.py:retire_cluster_map)."""
        import os

        from queens_spark.store.cluster_map import retire_cluster_map

        return retire_cluster_map(
            self.spark, os.path.join(self._cluster_maps_dir(), name), ids
        )

    def _cluster_map_cols(self, name: str) -> list[str]:
        """(id_col, text_col) from the map's own manifest — registry
        appends supply the screened frame; the map knows its columns
        (the text/vector index convention)."""
        cm = self.cluster_map(name)
        return [cm.entry["id_col"], cm.entry["text_col"]]

    def cluster_map(self, name: str, expected_fingerprint: str | None = None):
        """Open a previously built cluster map — no corpus touch."""
        import os

        from queens_spark.store.cluster_map import load_cluster_map

        return load_cluster_map(
            self.spark, os.path.join(self._cluster_maps_dir(), name),
            expected_fingerprint=expected_fingerprint,
        )

    # ------------------------------------------------- training runs

    def _training_runs_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "training_runs")

    def export_training_run(
        self, df: DataFrame, text_col: str, id_col: str, name: str, **kw
    ):
        """Export *df* as a packed, sharded, checksummed training run
        under the warehouse (store/training_run.py): fixed-length
        token sequences with document-boundary spans, round-robin
        shards balanced within one sequence, a manifest a trainer can
        verify offline, and deterministic per-seed epoch orders served
        as a sort — the pipeline's deliverable as a one-verb export."""
        from queens_spark.store.training_run import build_training_run

        return build_training_run(
            df, text_col, id_col, name, self._training_runs_dir(), **kw
        )

    def training_run(self, name: str):
        """Open a previously exported run (sequences / epoch order /
        integrity verification) — no corpus touch."""
        import os

        from queens_spark.store.training_run import load_training_run

        return load_training_run(
            self.spark, os.path.join(self._training_runs_dir(), name)
        )

    # ------------------------------------------------------------- read

    def maintain(
        self,
        collection: str,
        corpus_df: DataFrame | None = None,
        ledger: str | None = None,
        max_over_median: float = 4.0,
        coarse_iters: int = 1,
    ) -> dict:
        """One scheduled verb for the retrieval stack's whole storage
        lifecycle: compact the dedup ledger and every index registered
        for *collection*, clear the idempotency-token bookkeeping, and
        (with *corpus_df*, the indexed corpus) rebalance skewed IVF
        cells — the maintenance a production operator would otherwise
        hand-sequence across four calls with a subtle ordering
        contract. The ORDER is load-bearing:

        1. pending-token gate: refuses while any ledger token has not
           been applied to every registered index (the stream is not
           caught up) — compacting then would strand the batch
           (store/dedup_ledger.py:pending_tokens);
        2. ``compact_ledger`` (clears the ledger token map);
        3. compact every registered index with
           ``clear_applied_tokens=True`` — safe ONLY now: a replayed
           token re-screens at the compacted ledger to accepted=0, so
           no index append fires (clearing before the ledger would
           double-index);
        4. ``rebalance_if_skewed`` on IVF vector indexes (needs the
           compacted single-segment state step 3 produced).

        A crash between steps leaves a safe state (the ledger clears
        first, so replays always re-screen to nothing; un-cleared
        index token lists are just unclaimed bytes until the next
        sweep). Returns a report dict; searches before and after are
        bit-identical (compaction is a pure rewrite, rebalance only
        moves cell boundaries)."""
        import os

        from queens_spark.store.dedup_ledger import compact_ledger
        from queens_spark.store.text_index import (
            compact_text_index,
            load_text_index,
        )
        from queens_spark.store.vector_index import (
            compact_vector_index,
            load_vector_index,
            rebalance_if_skewed,
        )

        # 0. physical takedown purge — BEFORE the token gate (a
        # behind-the-ledger stream must not block a legal takedown
        # from leaving disk). Order inside: purge raw → restage (prod
        # drops the bytes while the artifact still exists) → clear the
        # segments. A crash between restage and clear leaves the
        # serving filter redundantly on; the next sweep heals.
        takedown_report = self._purge_takedowns(collection)

        regs = self.registered_indexes(collection)
        ledger_dir = os.path.join(
            self.warehouse.root, "system", "dedup_ledger",
            ledger or collection,
        )
        applied = []
        for e in regs:
            if e["kind"] == "sketch":
                from queens_spark.store.sketch_store import (
                    load_sketch_store,
                )

                st = load_sketch_store(
                    self.spark, self._sketch_store_dir(), e["name"]
                )
                applied.append(st.entry.get("applied_tokens") or [])
                continue
            if e["kind"] == "cluster":
                cm = self.cluster_map(e["name"])
                applied.append(cm.entry.get("applied_tokens") or [])
                continue
            if e["kind"] == "ecdf":
                st = self.ecdf_store(e["name"])
                applied.append(st.entry.get("applied_tokens") or [])
                continue
            if e["kind"] == "text":
                idx = load_text_index(
                    self.spark, self._text_index_dir(), e["name"]
                )
            else:
                idx = load_vector_index(
                    self.spark, self._vector_index_dir(), e["name"]
                )
            applied.append(idx.entry.get("applied_tokens") or [])
        merged = compact_ledger(
            self.spark, ledger_dir, require_applied=applied
        )
        report = {
            "ledger_segments_merged": merged,
            "compacted": [],
            "rebalanced": [],
            "takedown": takedown_report,
        }
        for e in regs:
            if e["kind"] == "sketch":
                # nothing to compact (single merged artifact); clearing
                # the token list is safe for the same reason as the
                # indexes — a post-compact replay re-screens at the
                # ledger to accepted=0, so the append never fires
                from queens_spark.store.sketch_store import (
                    clear_applied_tokens as _clear_sketch_tokens,
                )

                _clear_sketch_tokens(self._sketch_store_dir(), e["name"])
                report["compacted"].append(f"sketch:{e['name']}")
                continue
            if e["kind"] == "cluster":
                # fold delta segments into one (serving returns to
                # plain artifact reads); clearing the token list is
                # safe for the shared reason — post-compact replays
                # re-screen at the ledger to accepted=0, so the append
                # never fires
                import os as _os

                from queens_spark.store.cluster_map import (
                    clear_applied_tokens as _clear_cmap_tokens,
                    compact_cluster_map as _compact_cmap,
                )

                d = _os.path.join(self._cluster_maps_dir(), e["name"])
                _compact_cmap(self.spark, d)
                _clear_cmap_tokens(d)
                report["compacted"].append(f"cluster:{e['name']}")
                continue
            if e["kind"] == "ecdf":
                from queens_spark.store.ecdf_store import (
                    clear_applied_tokens as _clear_ecdf_tokens,
                )

                _clear_ecdf_tokens(self._ecdf_store_dir(), e["name"])
                report["compacted"].append(f"ecdf:{e['name']}")
                continue
            if e["kind"] == "text":
                compact_text_index(
                    self.spark, self._text_index_dir(), e["name"],
                    clear_applied_tokens=True,
                )
            else:
                idx = compact_vector_index(
                    self.spark, self._vector_index_dir(), e["name"],
                    clear_applied_tokens=True,
                )
                if corpus_df is not None and idx.entry.get("centroid_ids"):
                    _, did = rebalance_if_skewed(
                        corpus_df, e["name"], self._vector_index_dir(),
                        max_over_median=max_over_median,
                        coarse_iters=coarse_iters,
                    )
                    if did:
                        report["rebalanced"].append(e["name"])
            report["compacted"].append(f"{e['kind']}:{e['name']}")
        # the corpus profile drops exactly the tokens the (possibly
        # just-compacted) ledger no longer remembers: a profile token
        # without a ledger twin can never replay through ingest, while
        # one the ledger still holds MUST stay or a redelivery would
        # double-add its histogram (a 1-segment ledger no-ops
        # compaction and keeps its token map — the profile follows it)
        from queens_spark.store.corpus_profile import clear_applied_tokens
        from queens_spark.store.dedup_ledger import _read_manifest

        ledger_tokens = set(
            (_read_manifest(ledger_dir).get("tokens") or {}).keys()
        )
        report["profile_tokens_cleared"] = clear_applied_tokens(
            self._profiles_dir(), ledger or collection, keep=ledger_tokens
        )
        # rollup partial segments of SUPERSEDED table versions are
        # dead weight (current-time serving never reads a loser; an
        # old-as_of serve that wants one repairs it from raw) — GC
        # them here so a re-ingest-heavy collection stays bounded
        from queens_spark.store.rollup import gc_rollup_segments

        report["rollup_segments_gcd"] = gc_rollup_segments(
            self.warehouse, self._rollups_dir(), collection
        )
        return report

    def fsck(self) -> dict:
        """Read-only consistency audit of the retrieval storage tier —
        the diagnostic twin of :meth:`maintain`'s repairs
        (store/fsck.py): every manifest-referenced artifact must exist
        on disk, tombstone coverage must stay inside its segment
        scope, ledger idempotency tokens must point at live segments,
        counters must clear their live counts, and the registry must
        only name indexes that exist. Pure os/json walks — no Spark
        jobs, nothing mutated, safe on a cold warehouse or in a cron.

        Returns ``{"healthy": bool, "error": n, "warn": n, "info": n,
        "findings": [...]}`` — ``healthy`` means zero errors; warns
        are GC candidates (orphans of crashed writes — every store
        here flips its manifest LAST, so crashes orphan bytes rather
        than dangle references, and a dangling reference always means
        out-of-band damage)."""
        import os

        from queens_spark.store.fsck import (
            fsck_ledger,
            fsck_registry,
            fsck_text_indexes,
            fsck_vector_indexes,
            summarize,
        )

        findings: list[dict] = []
        findings += fsck_vector_indexes(self._vector_index_dir())
        findings += fsck_text_indexes(self._text_index_dir())
        ledroot = os.path.join(
            self.warehouse.root, "system", "dedup_ledger"
        )
        if os.path.isdir(ledroot):
            for name in sorted(os.listdir(ledroot)):
                d = os.path.join(ledroot, name)
                if os.path.isdir(d):
                    findings += fsck_ledger(d, name)
        findings += fsck_registry(
            self._registry_dir(),
            self._vector_index_dir(),
            self._text_index_dir(),
            sketch_dir=self._sketch_store_dir(),
            cluster_dir=self._cluster_maps_dir(),
            ecdf_dir=self._ecdf_store_dir(),
        )
        from queens_spark.store.fsck import (
            fsck_cluster_maps,
            fsck_corpus_profiles,
            fsck_ecdf_stores,
            fsck_registry_schemas,
            fsck_rollups,
            fsck_sketch_stores,
            fsck_training_runs,
        )

        findings += fsck_sketch_stores(self._sketch_store_dir())
        findings += fsck_ecdf_stores(self._ecdf_store_dir())
        findings += fsck_cluster_maps(self._cluster_maps_dir())
        findings += fsck_rollups(self._rollups_dir())
        findings += fsck_training_runs(self._training_runs_dir())
        findings += fsck_corpus_profiles(self._profiles_dir())
        from queens_spark.store.fsck import fsck_takedowns

        findings += fsck_takedowns(
            os.path.join(self.warehouse.root, "system", "takedowns")
        )
        findings += fsck_registry_schemas(
            self._registry_dir(),
            {
                name: list(schema.columns)
                for name, schema in self.schemas.items()
            },
            self._vector_index_dir(),
            self._text_index_dir(),
            sketch_dir=self._sketch_store_dir(),
            cluster_dir=self._cluster_maps_dir(),
            ecdf_dir=self._ecdf_store_dir(),
        )
        return {**summarize(findings), "findings": findings}

    def status(self, collection: str, ledger: str | None = None) -> dict:
        """One-verb FRESHNESS audit — the third leg of the operability
        triangle: :meth:`fsck` answers "is the storage intact",
        :meth:`maintain` repairs, ``status`` answers "is it CURRENT".
        Per registered store: version, segment count (the
        fragmentation signal :meth:`maintain` folds away), applied
        idempotency tokens, stored source fingerprint, and
        ``pending_tokens`` — ledger tokens this store has NOT applied.
        Pure manifest reads, zero Spark jobs (the fsck discipline), so
        it is safe in a cron at any corpus size.

        ``pending_tokens`` here is the manifest-level over-
        approximation: a token whose batch screened to zero accepted
        docs never fires an append, so it legitimately stays
        unapplied. :meth:`maintain`'s compaction gate does the exact
        per-token row probe (store/dedup_ledger.pending_tokens);
        ``status`` deliberately avoids that Spark job. ``stale`` is
        True when any pending token exists — "behind the ledger head,
        or a zero-accept batch"."""
        import os

        from queens_spark.store.dedup_ledger import (
            _read_manifest as _ledger_manifest,
        )

        ledger_dir = os.path.join(
            self.warehouse.root, "system", "dedup_ledger",
            ledger or collection,
        )
        lm = _ledger_manifest(ledger_dir)
        ledger_tokens = sorted((lm.get("tokens") or {}).keys())
        report = {
            "collection": collection,
            "ledger": {
                "segments": len(lm.get("segments") or []),
                "tokens": len(ledger_tokens),
                "blocked_entries": len(lm.get("blocked") or []),
            },
            "stores": [],
        }
        for e in self.registered_indexes(collection):
            kind, name = e["kind"], e["name"]
            row = {"kind": kind, "name": name}
            if kind == "text":
                from queens_spark.store.text_index import (
                    _read_manifest as _rm,
                )

                ent = _rm(self._text_index_dir()).get(name) or {}
                row["segments"] = len(ent.get("segments") or [])
                row["tombstone_lists"] = len(ent.get("deletes") or [])
            elif kind == "vector":
                from queens_spark.store.vector_index import (
                    _paths,
                    _read_manifest as _rm,
                )

                ent = _rm(self._vector_index_dir()).get(name) or {}
                row["segments"] = len(
                    _paths(ent.get("pq_codes_path") or [])
                )
                row["tombstone_lists"] = len(ent.get("deletes_path") or [])
            elif kind == "sketch":
                from queens_spark.store.sketch_store import (
                    _read_manifest as _rm,
                )

                ent = _rm(self._sketch_store_dir()).get(name) or {}
                row["segments"] = 1  # single merged artifact
                # KMV cannot subtract: a takedown flags the sketch
                # stale until a rebuild clears it (never silent)
                row["retired_pending_rebuild"] = bool(
                    ent.get("retired_pending_rebuild")
                )
            elif kind == "ecdf":
                from queens_spark.store.ecdf_store import (
                    _read_manifest as _rm,
                )

                ent = _rm(self._ecdf_store_dir()).get(name) or {}
                row["segments"] = 1  # single merged artifact
            else:  # cluster
                from queens_spark.store.cluster_map import (
                    _read_manifest as _rm,
                )

                ent = (
                    _rm(os.path.join(self._cluster_maps_dir(), name))
                    or {}
                ).get("current") or {}
                row["segments"] = len(ent.get("segments") or [])
                row["retirements"] = len(ent.get("retirements") or [])
            applied = {str(t) for t in (ent.get("applied_tokens") or [])}
            pending = [t for t in ledger_tokens if t not in applied]
            row.update(
                {
                    "version": int(ent.get("version") or 0),
                    "fingerprint": ent.get("fingerprint"),
                    "applied_tokens": len(applied),
                    "pending_tokens": pending,
                    "stale": bool(pending)
                    or bool(row.get("retired_pending_rebuild")),
                    "fragmented": int(row.get("segments") or 0) > 1,
                }
            )
            report["stores"].append(row)
        # registered rollups: segment presence only (their freshness
        # contract is LAZY — serving repairs a missing ingest partial
        # from raw, so absence is a repair-debt signal, not an error)
        from queens_spark.store.rollup import registered_rollups

        rollups = []
        for name in sorted(
            registered_rollups(self._rollups_dir(), collection)
        ):
            segs_dir = os.path.join(
                self._rollups_dir(), collection, name, "segments"
            )
            n_segs = (
                len([
                    d for d in os.listdir(segs_dir)
                    if d.startswith("ingest_")
                ])
                if os.path.isdir(segs_dir)
                else 0
            )
            rollups.append({"name": name, "segments": n_segs})
        report["rollups"] = rollups
        # pending takedowns: segments retired but not yet physically
        # purged by maintain — pure manifest read, like everything here
        from queens_spark.store.takedown import live_segments

        segs = live_segments(self._takedown_dir(collection))
        report["takedown"] = {
            "pending_segments": len(segs),
            "pending_ids": sum(int(s.get("n_ids") or 0) for s in segs),
            "tables": sorted(
                {t for s in segs for t in (s.get("tables") or [])}
            ),
        }
        report["stale_stores"] = [
            f"{r['kind']}:{r['name']}" for r in report["stores"]
            if r["stale"]
        ]
        return report

    # --------------------------------------------------- sketch stores

    def _sketch_store_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "sketch_store")

    def build_sketch_store(
        self, df: DataFrame, group_col: str, key_col: str, name: str,
        k: int | None = None,
    ):
        """One corpus pass → persisted per-group KMV sketch
        (store/sketch_store.py): distinct counts and cross-group
        union/intersection estimates served forever after from
        k·groups rows, kept current by O(batch) appends."""
        from queens_spark.operators.kmv import DEFAULT_K
        from queens_spark.store.sketch_store import build_sketch_store

        return build_sketch_store(
            df, group_col, key_col, self._sketch_store_dir(), name,
            k=k or DEFAULT_K,
        )

    def sketch_store(self, name: str):
        from queens_spark.store.sketch_store import load_sketch_store

        return load_sketch_store(
            self.spark, self._sketch_store_dir(), name
        )

    def append_sketch_store(
        self, df: DataFrame, name: str, token: str | None = None
    ):
        """Fold a new batch into a stored sketch — bit-identical to a
        rebuild on the union; a replayed *token* no-ops."""
        from queens_spark.store.sketch_store import append_sketch_store

        return append_sketch_store(
            self.spark, df, self._sketch_store_dir(), name, token=token
        )

    # ----------------------------------------------------- ecdf stores

    def _ecdf_store_dir(self) -> str:
        import os

        return os.path.join(self.warehouse.root, "system", "ecdf_store")

    def build_ecdf_store(
        self, df: DataFrame, group_col: str, value_sql: str, name: str,
        width: int = 50, n_buckets: int = 40,
    ):
        """One histogram pass → persisted per-group fixed-grid ECDF
        (store/ecdf_store.py): percentile thresholds and drift
        references served forever after from groups×n_buckets counters,
        kept current by exact-merge O(batch) appends. *value_sql* is a
        Spark-SQL expression over the frame's columns (stored in the
        manifest, so registry appends recompute it untouched)."""
        from queens_spark.store.ecdf_store import build_ecdf_store

        return build_ecdf_store(
            df, group_col, value_sql, self._ecdf_store_dir(), name,
            width=width, n_buckets=n_buckets,
        )

    def build_ecdf_profiles(
        self, df: DataFrame, group_col: str, profiles: dict, name: str
    ):
        """MULTI-PROFILE grid store: N named value expressions
        (``profiles[name] = {value_sql, width, n_buckets}``)
        histogrammed per group in ONE corpus scan — k profiled values
        cost 1× the corpus I/O instead of k× separate builds
        (store/ecdf_store.py:build_ecdf_profiles). Serves via
        :meth:`ecdf_store` with ``profile=`` on every read verb;
        registry appends keep every profile fresh from the one batch
        scan."""
        from queens_spark.store.ecdf_store import build_ecdf_profiles

        return build_ecdf_profiles(
            df, group_col, profiles, self._ecdf_store_dir(), name
        )

    def ecdf_store(self, name: str):
        from queens_spark.store.ecdf_store import load_ecdf_store

        return load_ecdf_store(self.spark, self._ecdf_store_dir(), name)

    def append_ecdf_store(
        self, df: DataFrame, name: str, token: str | None = None
    ):
        """Fold a new batch into a stored ECDF — bit-identical to a
        rebuild on the union (histogram addition); a replayed *token*
        no-ops. Register with kind ``"ecdf"`` and dedup-screened
        ingests keep it fresh automatically."""
        from queens_spark.store.ecdf_store import append_ecdf_store

        return append_ecdf_store(
            self.spark, df, self._ecdf_store_dir(), name, token=token
        )

    def corpus_report(
        self,
        df: DataFrame,
        text_col: str,
        id_col: str,
        source_col: str | None = None,
        vocab_top: int = 50,
    ) -> dict[str, DataFrame]:
        """One-verb CORPUS RELEASE REPORT — the audit bundle a data
        team ships with every corpus drop, composed from the catalog
        operators (each individually oracle-checked):

        - ``funnel``: filter-cascade verdicts with docs, token mass,
          exact basis-point shares (q138's report);
        - ``duplication``: one row — docs, distinct contents, exact
          duplicate docs, and the duplicate share in basis points
          (the exact-dedup rate, q26's statistic);
        - ``vocabulary``: the top-*vocab_top* corpus head (q67);
        - ``composition`` (with *source_col*): per-source docs and
          token mass (q88's front matter).

        Every frame is lazily planned — collect what the release
        needs. One linear scan each; nothing corpus-scale lands on
        the driver."""
        from queens_spark.operators.corpus import vocabulary
        from queens_spark.operators.dedup import exact_dedup_groups
        from queens_spark.operators.text import filter_funnel, token_count

        groups = exact_dedup_groups(df, text_col, id_col)
        dup = groups.agg(
            F.sum("n_copies").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        ).select(
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_duplicates"),
            F.expr("(n_docs - n_distinct) * 10000 div n_docs")
            .alias("dup_share_bp"),
        )
        out = {
            "funnel": filter_funnel(df, text_col, id_col),
            "duplication": dup,
            "vocabulary": vocabulary(df, text_col, id_col, top=vocab_top),
        }
        if source_col is not None:
            out["composition"] = (
                df.groupBy(source_col)
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(token_count(text_col)).alias("n_tokens"),
                )
                .orderBy(F.desc("n_docs"), F.asc(source_col))
            )
        return out

    def export_release(
        self,
        df: DataFrame,
        text_col: str,
        id_col: str,
        name: str,
        source_col: str | None = None,
        seq_len: int = 2048,
        n_shards: int = 16,
        stratum_col: str | None = None,
        vocab_top: int = 50,
        cluster_map: str | None = None,
    ) -> dict:
        """The whole corpus DROP as one verb: build the packed,
        sharded, checksummed training run AND persist the release
        audit beside it — the filter-cascade funnel, exact-dup rate,
        vocabulary head, and (with *source_col*) per-source
        composition from :meth:`corpus_report`, each written as a
        counter-width parquet table under the run's version dir and
        RECORDED in the manifest with its row count via a second
        atomic flip (store/training_run.attach_report): a crash
        between the run flip and the report flip leaves a manifest
        WITHOUT a ``report`` key, so an incomplete bundle is
        detectable rather than silently passing, and ``run.verify()``
        checks the report tables alongside the shard checksums.
        Returns {"run": manifest entry, "report": {table: path}}. The
        report tables are tiny (report aggregates), so the extra cost
        over the pack itself is a few counter-width jobs.

        With *cluster_map* (a map built by :meth:`build_cluster_map`
        and kept fresh by registry appends), the release is
        DEDUP-AWARE: one quality-best canonical document per near-dup
        cluster is packed. The canonical is RE-ELECTED from the map's
        members restricted to the ids actually present in *df* (same
        (quality, −id) winner rule as the stored canonical — identical
        when *df* covers the map), so a cluster whose stored best is
        absent from *df* (retired after the map build, or filtered out
        upstream) ships its next-best member instead of silently
        dropping the whole cluster. Documents in *df* the map has
        never clustered are dropped — the keep-list is the map's
        members; rebuild or append the map first if *df* outgrew it.
        The clustering itself is never recomputed here (members is a
        counter-width artifact read), and the release report is
        computed over the SAME canonical-only frame it ships, so its
        dup-rate table shows what a consumer actually gets."""
        import os

        from queens_spark.store.training_run import attach_report

        if cluster_map is not None:
            cm = self.cluster_map(cluster_map)
            mid = cm.entry["id_col"]
            live = cm.members().join(
                df.select(F.col(id_col).alias(mid)).distinct(),
                mid, "left_semi",
            )
            # the stored canonical's (quality, -id) winner rule
            # (store/cluster_map._canonical_aggs), re-run over the
            # members present in df
            keep = (
                live.groupBy("component_id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("quality").alias("q"),
                            (-F.col(mid)).alias("nid"),
                        )
                    ).alias("best")
                )
                .select((-F.col("best.nid")).cast("bigint").alias(id_col))
            )
            # NO broadcast hint: keep has one row per COMPONENT — near
            # corpus-width on a mostly-unique corpus, so forcing a
            # broadcast would collect it to the driver and break the
            # release at scale; AQE broadcasts it when it is small
            df = df.join(keep, id_col, "left_semi")

        run = self.export_training_run(
            df, text_col, id_col, name,
            seq_len=seq_len, n_shards=n_shards, stratum_col=stratum_col,
        )
        vdir = os.path.join(run.run_dir, run.entry["dir"])
        report = self.corpus_report(
            df, text_col, id_col, source_col=source_col,
            vocab_top=vocab_top,
        )
        paths, recorded = {}, {}
        for table, frame in report.items():
            p = os.path.join(vdir, "report", table)
            frame.coalesce(1).write.mode("overwrite").parquet(p)
            n = self.spark.read.parquet(p).count()
            paths[table] = p
            recorded[table] = {
                "path": os.path.join("report", table), "n_rows": int(n)
            }
        attach_report(run.run_dir, recorded)
        run = self.training_run(name)  # re-read the flipped manifest
        return {"run": run.entry, "report": paths}

    def compact(
        self, collection: str, target_files: int = 1, which: str = "prod"
    ) -> dict[str, tuple[int, int]]:
        """Maintenance pass: merge fragmented prod (or, with
        ``which="raw"``, raw) partition files (see Warehouse.compact).
        Query and staging results are unchanged."""
        return self.warehouse.compact(collection, target_files, which)

    def _staged_columns(self, collection: str, table_name: str) -> set[str]:
        """The table's populated columns; raises UnknownColumnError for
        an unknown collection or a table that is not staged."""
        self.schema_for(collection)
        queryable = self.warehouse.queryable_columns(collection, table_name)
        if not queryable:
            raise UnknownColumnError(
                f"table '{table_name}' is not staged for '{collection}'"
            )
        return queryable

    def _filtered(
        self,
        collection: str,
        table_name: str,
        filters: Mapping[str, Any] | None,
        queryable: set[str],
        tdir: str | None,
        prune_null_columns: bool,
        snap: int | None = None,
    ) -> DataFrame:
        """The one build path of :meth:`query` and :meth:`query_page`:
        prod snapshot *snap* (default: the committed one) under the
        forced table_name equality and the filter, less the rows of a
        pending takedown, service columns dropped and, with
        *prune_null_columns*, the table's all-null columns too."""
        expr = build_filter_expr(
            filters, self.schema_for(collection), queryable,
            forced={"table_name": table_name},
        )
        df = self.warehouse.read_prod(collection, snap).where(expr)
        if tdir is not None:
            # retired-but-not-yet-restaged rows must not serve: the
            # coverage-scoped anti-join against the takedown artifact
            # (store/takedown.py). Collections with no pending
            # takedown skip this entirely — plans stay byte-identical
            from queens_spark.store.takedown import apply_takedowns

            df = apply_takedowns(df, self.spark, tdir)
        cols = [c for c in df.columns if c not in SERVICE_COLUMNS]
        if prune_null_columns:
            # Metadata-driven P7: the catalog already records which
            # columns are populated per table (all-null ones are absent
            # by construction, store/warehouse.refresh_metadata), so
            # pruning is a projection — no per-query aggregation scan
            # of the fact table.
            keep = set(queryable) | {"table_name", ROW_UID}
            cols = [c for c in cols if c in keep]
        return df.select(*cols)

    def query(
        self,
        collection: str,
        table_name: str,
        filters: Mapping[str, Any] | None = None,
        limit: int | None = None,
        cursor: int | None = None,
        prune_null_columns: bool = True,
    ) -> DataFrame:
        """The §3.1/§3.2 read path.

        - ``filters`` is the JSON filter DSL;
        - ``table_name`` equality is always force-injected (P5) and,
          because prod is partitioned by table_name, prunes the scan to
          one partition;
        - ``limit``/``cursor`` give keyset pagination over the persisted
          ``row_uid`` (O1/O2): the cursor predicate is pushed into the
          parquet scan, so page N never rescans pages 1..N-1.
        """
        queryable = self._staged_columns(collection, table_name)
        df = self._filtered(
            collection, table_name, filters, queryable,
            self._pending_takedown_dir(collection), prune_null_columns,
        )
        if cursor is not None:
            df = df.where(F.col(ROW_UID) > int(cursor))
        if limit is not None:
            df = df.orderBy(ROW_UID).limit(min(int(limit), MAX_LIMIT))
        return df

    def _page_plan(
        self,
        collection: str,
        table_name: str,
        filters: Mapping[str, Any] | None,
        queryable: set[str],
    ) -> tuple[DataFrame, tuple[str, ...]]:
        """The ordered base frame of a page chain and its columns,
        memoized on the committed snapshot id, the pending takedown's
        seq and the validated filter. The filter is validated on every
        call, hit or miss; only a miss compiles it and builds the
        frame (py4j calls)."""
        fkey = filter_key(filters, self.schema_for(collection), queryable)
        wh = self.warehouse
        # one manifest read names the snapshot, and with it the files
        # and the catalog, that this entry is built on
        staged = wh._read_manifest(collection) or {}
        snap = staged.get("snapshot")
        tdir, td_seq = self._pending_takedown(collection, staged)
        tokens = (snap, td_seq)
        key = (collection, table_name, tokens, fkey)
        with self._page_plans_lock:
            plan = self._page_plans.get(key)
            if plan is not None:
                self._page_plans.move_to_end(key)
                return plan
        # A page record drops null values, so leaving out the columns
        # the catalog knows are all null in this table changes no
        # record and spares the collect their bytes.
        base = self._filtered(
            collection, table_name, filters,
            wh.queryable_columns(collection, table_name, snap), tdir,
            prune_null_columns=True, snap=snap,
        ).orderBy(ROW_UID)
        plan = (base, tuple(base.columns))
        with self._page_plans_lock:
            # entries built on a superseded snapshot can never hit again
            for k in [k for k in self._page_plans
                      if k[0] == collection and k[2] != tokens]:
                del self._page_plans[k]
            self._page_plans[key] = plan
            while len(self._page_plans) > PAGE_PLAN_MEMO_SIZE:
                self._page_plans.popitem(last=False)
        return plan

    def query_page(
        self,
        collection: str,
        table_name: str,
        filters: Mapping[str, Any] | None = None,
        limit: int = DEFAULT_LIMIT,
        cursor: int | None = None,
        queryable: set[str] | None = None,
    ) -> tuple[list[dict], int | None]:
        """API-shaped page fetch: records + next_cursor (None on the
        last page — the optimistic full-page check of
        queens/api/app.py:161-168).

        The records are the rows of :meth:`query` with the same
        filter, limit and cursor, less their null values. The chain's
        plan is built once (see :meth:`_page_plan`), so a page is the
        cursor predicate, the limit and one collect. *queryable* is
        the table's populated column set when the caller has probed it
        already."""
        limit = min(int(limit), MAX_LIMIT)
        if queryable is None:
            queryable = self._staged_columns(collection, table_name)
        base, columns = self._page_plan(collection, table_name, filters, queryable)
        if cursor is not None:
            base = base.where(F.col(ROW_UID) > int(cursor))
        records = [
            {k: v for k, v in zip(columns, row) if v is not None or k == ROW_UID}
            for row in base.limit(limit).collect()
        ]
        # `records and` guards limit<=0 (an empty page must not index
        # records[-1]) — the limit=0 page is legal and returns no cursor.
        next_cursor = (
            records[-1][ROW_UID] if records and len(records) == limit else None
        )
        return records, next_cursor

    def table_description(self, collection: str, table_name: str) -> str | None:
        """Description of the STAGED version of *table_name* (the
        reference returns it with every data page,
        queens/api/app.py:170-185). Memoized per prod snapshot in the
        warehouse — after the first page of a staged table the API
        path runs exactly one Spark job per page (the page collect)."""
        return self.warehouse.table_description(collection, table_name)

    # ---------------------------------------------------------- reports

    def get_metadata(self, collection: str, table_name: str | None = None) -> DataFrame:
        meta = self.warehouse.read_metadata(collection)
        if table_name:
            meta = meta.where(F.col("table_name") == table_name)
        return meta

    def get_versions(self, collection: str, table_name: str | None = None) -> DataFrame:
        """Ingest history, latest first (queens/etl/process.py:360-390)."""
        log = self.warehouse.read_log(collection)
        if table_name:
            log = log.where(F.col("table_name") == table_name)
        return log.orderBy(F.asc("table_name"), F.desc("ingest_ts"))

    def get_data_info(self, collection: str) -> DataFrame:
        """Per-table year span + row count over prod, enriched with the
        staged version's description and ingest timestamp (A3+O3,
        queens/etl/process.py:300-332: the reference's info report
        carries Table number / Description / Ingest date columns).
        One aggregate over prod, broadcast join to the tiny log."""
        prod = self.warehouse.read_prod(collection)
        tdir = self._pending_takedown_dir(collection)
        if tdir is not None:
            # report counts must match what query() serves: exclude
            # retired-but-not-yet-restaged rows
            from queens_spark.store.takedown import apply_takedowns

            prod = apply_takedowns(prod, self.spark, tdir)
        log = (
            self.warehouse.read_log(collection)
            .where(F.col("success") == 1)
            .select("ingest_id", "table_description", "ingest_ts")
        )
        return (
            prod.groupBy("table_name", "ingest_id")
            .agg(
                F.min("year").alias("min_year"),
                F.max("year").alias("max_year"),
                F.count("year").alias("n_rows"),
            )
            .join(F.broadcast(log), "ingest_id", "left")
            .select(
                "table_name", "table_description", "ingest_ts",
                "min_year", "max_year", "n_rows",
            )
            .orderBy(F.asc("table_name"), F.desc("ingest_ts"))
        )
