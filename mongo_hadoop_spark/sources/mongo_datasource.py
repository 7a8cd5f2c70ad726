"""``mongodoc`` — a Spark Python DataSource over the document store.

The Spark-native re-expression of the reference's InputFormat/OutputFormat
pair (SURVEY §3.1→Spark mapping): ``planInputPartitions`` ≙ splitter
``calculateSplits``, ``PartitionReader`` ≙ MongoRecordReader,
``DataWriter.commit`` ≙ MongoOutputCommitter's temp-file + commit-replay.

Read path:
    spark.read.format("mongodoc")
         .option("path", store_dir).option("collection", name)
         .option("query", '{"status": "A"}')        # static table query (F7)
         .option("splitter", "bson_file|sample|paginating|single")
         .load()

- **Filter pushdown** (F5/F6): Catalyst's pushed filters are translated to
  a Mongo query (plans.filters.translate_filters) and AND'd with the
  static query; untranslatable filters stay residual and Spark re-applies
  them above the scan — the reference's superset contract.
- **Partition planning** (§2.2): byte-range splits at BSON doc boundaries
  by default (P10), consecutive ones packed into one partition up to
  ``split_size`` bytes (a Python task has a fixed cost, so a collection
  smaller than ``split_size`` is one task; lower ``split_size`` for more
  parallelism); compressed segments stay one partition each.
  Sample/paginating range splitters (P3/P7) emit per-partition
  ``{key: {$gte,$lt}}`` queries (P8).
- **Narrow decode**: a split decodes only the top-level fields its rows
  (the schema's columns), its query and its sort read; the other
  elements are skipped by length, like a server-side projection.  Python
  DataSources get no column pruning from Spark, so ``fields`` or a narrow
  ``.schema(...)`` is what narrows the scan.
- **Schema** (M4): user-supplied via ``.schema(...)`` or inferred from a
  document sample with type widening.
- **Arrow batches**: the readers Spark gets hand it ``pyarrow.RecordBatch``es
  of up to 10,000 rows (``BATCH_ROWS``, Spark's default
  ``maxRecordsPerBatch``), so pyspark takes them as they are instead of
  converting row tuples a second time.  Each batch is built column-wise
  by a converter compiled once per schema
  (``schema_infer.compile_column``): per column, values of the expected
  type pass an inline type test and the rest take ``convert_value``'s
  rules.  A reader constructed directly still yields one tuple per row,
  from the same columns.

Write path:
    df.write.format("mongodoc").option("path", store_dir)
      .option("collection", name).mode("append").save()

Each task stages a temp segment; the job commit publishes them all
(``DocumentCollection.publish``), so task retries/speculation leave only
temp files — the reference's idempotence story, W1/W2.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource, DataSourceArrowWriter, DataSourceReader,
    DataSourceStreamReader, InputPartition, WriterCommitMessage,
)
from pyspark.sql.types import StructType

from mongo_hadoop_spark.plans.filters import (
    and_queries, match, query_roots, translate_filters,
)
from mongo_hadoop_spark.plans.splitters import (
    DEFAULT_MIN_DOCS, DEFAULT_SPLIT_SIZE, SplitSpec, bson_file_splitter,
    multi_collection_splits, paginating_splitter, sample_splitter,
    single_splitter,
)
from mongo_hadoop_spark.sources import extjson
from mongo_hadoop_spark.sources.schema_infer import compile_column, infer_schema

# rows per Arrow batch handed to Spark: the default of Spark's
# spark.sql.execution.arrow.maxRecordsPerBatch
BATCH_ROWS = 10_000


@dataclass
class _DocPartition(InputPartition):
    """One Spark task: a single split, or a run of consecutive byte-range
    splits packed up to ``split_size`` (each still read with its own query
    and cursor options)."""
    specs: tuple[SplitSpec, ...]

    @property
    def spec(self) -> SplitSpec:
        """The split of an unpacked partition."""
        (only,) = self.specs
        return only


class DocumentDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "mongodoc"

    def _store(self):
        from mongo_hadoop_spark.store import DocumentStore

        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (store directory) is required")
        return DocumentStore(path)

    def _collections(self) -> list[str]:
        return _collection_names(self.options)

    def schema(self) -> StructType:
        # schemaless mode (SURVEY §1.3 mode 1 — Pig MongoLoader() with no
        # schema): the whole document as one extended-JSON string column.
        if str(self.options.get("schemaless", "false")).lower() == "true":
            from pyspark.sql.types import StringType, StructField

            return StructType([StructField("doc", StringType(), True)])
        sample_n = int(self.options.get("samplesize", 100))
        if self.options.get("backend") == "live":
            from mongo_hadoop_spark.sources.live_read import collection_from_uri

            coll = collection_from_uri(self.options["uri"],
                                       self.options.get("client_factory"))
            docs = list(coll.find(
                extjson.parse_query(self.options.get("query")) or {}
            ).limit(sample_n))
        else:
            store = self._store()
            docs = []
            for name in self._collections():
                docs.extend(store.collection(name).find(
                    query=extjson.parse_query(self.options.get("query")),
                    limit=sample_n,
                ))
        if not docs:
            raise ValueError("cannot infer schema from an empty collection; "
                             "provide .schema(...) explicitly")
        schema = infer_schema(docs)
        # columns mapping (mode 2): rename document fields, incl. dotted
        # paths, to view columns (mongo.columns.mapping analog)
        mapping = self._columns_mapping()
        if mapping:
            from pyspark.sql.types import StructField

            fields = {f.name: f for f in schema.fields}
            out = []
            for view_col, doc_field in mapping.items():
                if "." in doc_field:
                    from mongo_hadoop_spark.sources.schema_infer import (
                        infer_value_type, merge_types,
                    )
                    from pyspark.sql.types import NullType

                    t: object = NullType()
                    for d in docs:
                        from mongo_hadoop_spark.plans.paths import get_path

                        v = get_path(d, doc_field)
                        if v is not None:
                            t = merge_types(t, infer_value_type(v))
                    from pyspark.sql.types import StringType

                    t = StringType() if isinstance(t, NullType) else t
                    out.append(StructField(view_col, t, True))
                elif doc_field in fields:
                    out.append(StructField(view_col, fields[doc_field].dataType, True))
            mapped_sources = set(mapping.values())
            out.extend(f for f in schema.fields if f.name not in mapped_sources)
            return StructType(out)
        return schema

    def _columns_mapping(self) -> dict[str, str]:
        import json

        raw = self.options.get("columns_mapping")
        return json.loads(raw) if raw else {}

    def reader(self, schema: StructType) -> "DocumentReader":
        pushdown = str(self.options.get("pushdown", "false")).lower() == "true"
        if self.options.get("backend") == "live":
            return (LivePushdownDocumentReader if pushdown
                    else LiveDocumentReader)(self.options, schema, arrow=True)
        if pushdown:
            return PushdownDocumentReader(self.options, schema, arrow=True)
        return DocumentReader(self.options, schema, arrow=True)

    def streamReader(self, schema: StructType):  # noqa: N802 (Spark API)
        if self.options.get("backend") == "live":
            raise ValueError(
                "streaming tail reads the file-backed store; the live "
                "backend has no change-stream surface here")
        return DocumentStreamReader(self.options, schema, arrow=True)

    def writer(self, schema: StructType, overwrite: bool):
        if self.options.get("backend") == "live":
            if overwrite:
                raise ValueError(
                    "backend=live supports append mode only (the reference "
                    "writer inserts; use sinks.live for update replay)")
            return LiveDocumentWriter(self.options, schema)
        return DocumentWriter(self.options, schema, overwrite)


class DocumentReader(DataSourceReader):
    """Reader without Catalyst pushdown — correct under every plan-reuse
    pattern.  Server-side filtering is still available via the static
    ``query`` option (F1/F7), which is per-DataFrame by construction.

    Catalyst pushdown (F5/F6) lives in :class:`PushdownDocumentReader`,
    selected by ``.option("pushdown", "true")``.  It is opt-in for two
    reasons: (a) Spark ships ``spark.sql.python.filterPushdown.enabled``
    off by default and *raises* if a reader defines ``pushFilters`` while
    it is off; (b) Spark caches the planned Python scan per DataFrame
    relation, so a pushed filter from the first query on a DataFrame is
    baked into later queries on the *same* DataFrame object (verified
    against Spark 4.1: ``df.where(...).count(); df.count()`` under-counts).
    With pushdown on, create a fresh ``load()`` per query — the normal
    connector pattern; tests/test_datasource.py covers both behaviors.

    ``arrow`` (set by :meth:`DocumentDataSource.reader`) makes ``read``
    yield Arrow batches for Spark; constructed directly, a reader yields
    one tuple per row.
    """

    def __init__(self, options, schema: StructType, *, arrow: bool = False):
        self.options = options
        self.schema_ = schema
        self.arrow = arrow
        self.static_query = extjson.parse_query(options.get("query"))
        self.pushed_query: dict = {}

    # --- partition planning (§2.2) ----------------------------------------

    def _effective_query(self) -> dict:
        return and_queries(self.static_query, self.pushed_query)

    def _cursor_options(self) -> dict:
        """Per-split cursor options (F3/F4): like the reference, sort/
        limit/skip apply to EACH split's cursor, not globally
        (MongoInputSplit.java:281-296 — limit is effectively
        limit × numSplits).  Global semantics belong to Spark
        (orderBy/limit above the scan)."""
        import json

        sort = self.options.get("sort")
        return {
            "sort": tuple(json.loads(sort).items()) if sort else None,
            "limit": int(self.options["limit"]) if "limit" in self.options else None,
            "skip": int(self.options.get("skip", 0)),
            "projection": (json.loads(self.options["fields"])
                           if "fields" in self.options else None),
        }

    def _with_cursor_options(self, splits) -> list[_DocPartition]:
        """Stamp the per-split cursor options (F3/F4) onto every split —
        the one place the option→SplitSpec merge happens for all readers."""
        import dataclasses

        cur = self._cursor_options()
        return [
            _DocPartition((dataclasses.replace(
                s, projection=cur["projection"], sort=cur["sort"],
                limit=cur["limit"], skip=cur["skip"],
            ),))
            for s in splits
        ]

    def partitions(self):
        from mongo_hadoop_spark.store import DocumentStore

        store = DocumentStore(self.options["path"])
        colls = _collection_names(self.options)
        strategy = self.options.get("splitter", "bson_file")
        key = self.options.get("key", "_id")
        split_size = int(self.options.get("split_size", DEFAULT_SPLIT_SIZE))
        query = self._effective_query()

        all_splits: list[list[SplitSpec]] = []
        for name in colls:
            coll = store.collection(name)
            if strategy == "single":
                splits = single_splitter(name, query)
            elif strategy == "sample":
                stats = coll.stats()
                import math
                n_splits = max(1, math.ceil(stats["size"] / split_size))
                sample = coll.sample_values(key, n_splits * 10)
                splits = sample_splitter(stats, sample, name, key=key,
                                         split_size=split_size, query=query)
            elif strategy == "paginating":
                min_docs = int(self.options.get("min_docs", DEFAULT_MIN_DOCS))

                def nth(lower, n, _c=coll, _k=key, _q=query):
                    rq = {_k: {"$gte": lower}} if lower is not None else {}
                    found = _c.find(and_queries(_q, rq), projection={_k: 1},
                                    sort=[(_k, 1)], skip=n, limit=1)
                    return found[0].get(_k) if found else None

                splits = paginating_splitter(nth, name, key=key,
                                             min_docs=min_docs, query=query)
            else:  # bson_file: byte-range splits per segment (P10/P11)
                import fnmatch
                import os as _os

                # F10: glob filter on which segment files are scanned
                # (BSONPathFilter analog, core/.../BSONFileInputFormat.java:86-90)
                path_filter = self.options.get("path_filter")
                segs = [
                    seg for seg in coll.segments()
                    if not path_filter
                    or fnmatch.fnmatch(_os.path.basename(seg), path_filter)
                ]
                splits = []
                for seg in segs:
                    splits.extend(bson_file_splitter(
                        seg, name, target_size=split_size, query=query))
                if not splits and not path_filter:
                    splits = single_splitter(name, query)
            all_splits.append(splits)
        return _pack_byte_ranges(
            self._with_cursor_options(multi_collection_splits(all_splits)),
            split_size)

    # --- per-partition scan (MongoRecordReader analog) --------------------

    def read(self, partition: _DocPartition):
        """One partition's rows: ``pyarrow.RecordBatch``es of up to
        ``BATCH_ROWS`` rows when Spark reads (``arrow``), else one tuple
        per row, holding the batches' values (struct values as dicts,
        timestamps UTC-aware)."""
        if partition is None:  # planner produced zero partitions
            return
        columns = self._columns()
        chunks = _chunks(self._docs(partition), BATCH_ROWS)
        if not self.arrow:
            for docs in chunks:
                cols = columns(docs)
                yield from zip(*cols) if cols else (() for _ in docs)
            return
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(self.schema_)
        for docs in chunks:
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=f.type)
                 for col, f in zip(columns(docs), schema)],
                schema=schema)

    def _docs(self, partition: _DocPartition):
        """The partition's documents, each split in turn: decode → match →
        cursor options (sort/skip/limit/projection)."""
        row_fields = self._row_fields()
        for spec in partition.specs:
            yield from self._split_docs(spec, row_fields)

    def _split_docs(self, spec: SplitSpec, row_fields):
        from mongo_hadoop_spark import bsonio
        from mongo_hadoop_spark.store import DocumentStore

        from mongo_hadoop_spark.plans.filters import project as mongo_project

        plain = not (spec.sort or spec.limit is not None or spec.skip)
        fields = _decode_fields(spec, row_fields)

        if spec.segment_path is not None and plain:
            # streaming fast path: no cursor options → decode-filter-emit
            with bsonio.open_bson(spec.segment_path) as f:
                for doc in bsonio.decode_file_iter(
                    f, start=spec.byte_start, length=spec.byte_length,
                    fields=fields,
                ):
                    if match(doc, spec.query):
                        if spec.projection:
                            doc = mongo_project(doc, spec.projection)
                        yield doc
            return

        if spec.segment_path is not None:
            with bsonio.open_bson(spec.segment_path) as f:
                docs = [
                    d for d in bsonio.decode_file_iter(
                        f, start=spec.byte_start, length=spec.byte_length,
                        fields=fields)
                    if match(d, spec.query)
                ]
            yield from _apply_cursor_options(docs, spec)
        else:
            store = DocumentStore(self.options["path"])
            coll = store.collection(spec.collection)
            yield from coll.find(spec.query, projection=spec.projection,
                                 sort=spec.sort, skip=spec.skip,
                                 limit=spec.limit)

    def _schemaless(self) -> bool:
        return str(self.options.get("schemaless", "false")).lower() == "true"

    def _columns(self):
        """Compile the schema once into ``columns(docs) -> [column, ...]``.
        A column's values come from its source: the field of that name, its
        ``columns_mapping`` entry (a dotted path resolves through
        ``get_path``), or, schemaless, the whole document as extended JSON."""
        import json

        from mongo_hadoop_spark.plans.paths import get_path

        def pull(src):
            if src is None:
                return lambda docs: [extjson.dumps(d) for d in docs]
            if "." in src:
                return lambda docs: [get_path(d, src) for d in docs]
            return lambda docs: [d.get(src) for d in docs]

        fields = self.schema_.fields
        if self._schemaless():
            sources = [None]
        else:
            mapping = json.loads(self.options.get("columns_mapping") or "{}")
            sources = [mapping.get(f.name, f.name) for f in fields]
        plan = [(pull(src),
                 compile_column(f.dataType, f.nullable))
                for f, src in zip(fields, sources)]
        return lambda docs: [build(values(docs)) for values, build in plan]

    def _row_fields(self) -> set[str] | None:
        """Top-level document fields the converter reads (None: all)."""
        import json

        if self._schemaless():
            return None
        mapping = json.loads(self.options.get("columns_mapping") or "{}")
        if mapping:
            return {mapping.get(f.name, f.name).split(".", 1)[0]
                    for f in self.schema_.fields}
        return {f.name for f in self.schema_.fields}


class LiveDocumentReader(DocumentReader):
    """Read path against a live pymongo-protocol backend
    (``option("backend", "live")`` + ``option("uri", "mongodb://...")``).

    The reference analog is MongoInputSplit's cursor setup
    (core/.../input/MongoInputSplit.java:272-299): every partition opens
    its own server cursor with the split's query ∧ range bounds,
    projection, sort, skip and limit.  Partition planning runs on the
    driver through the same live protocol (P7 paginating splitter, or a
    single split); executors re-resolve the client from the URI string —
    no connection objects cross the serialization boundary, exactly the
    reference's per-task ``MongoConfigUtil.getCollection`` pattern.
    """

    def _collection_name(self) -> str:
        from mongo_hadoop_spark.sources.uri import MongoURI

        return MongoURI.parse(self.options["uri"]).collection

    def _target(self):
        from mongo_hadoop_spark.sources.live_read import collection_from_uri

        return collection_from_uri(self.options["uri"],
                                   self.options.get("client_factory"))

    def partitions(self):
        name = self._collection_name()
        strategy = self.options.get("splitter", "single")
        key = self.options.get("key", "_id")
        query = self._effective_query()
        if strategy == "paginating":
            coll = self._target()
            min_docs = int(self.options.get("min_docs", DEFAULT_MIN_DOCS))

            def nth(lower, n, _c=coll, _k=key, _q=query):
                rq = {_k: {"$gte": lower}} if lower is not None else {}
                found = list(_c.find(and_queries(_q, rq), {_k: 1})
                             .sort([(_k, 1)]).skip(n).limit(1))
                return found[0].get(_k) if found else None

            splits = paginating_splitter(nth, name, key=key,
                                         min_docs=min_docs, query=query)
        elif strategy == "shard_chunk":
            splits = self._shard_chunk_splits(name, key, query)
        elif strategy == "single":
            splits = single_splitter(name, query)
        else:
            raise ValueError(
                f"live backend supports splitter=single|paginating|"
                f"shard_chunk, got {strategy!r}")
        return self._with_cursor_options(splits)

    def _shard_chunk_splits(self, name: str, key: str, query):
        """P4 against a live topology: one split per config.chunks entry
        for the namespace, preferred locations from config.shards
        (ShardChunkMongoSplitter.java:59-148 reads the same two
        collections through mongos).  Chunk min/max may be the server's
        document form ({key: value}) or bare values; MinKey/MaxKey edges
        become unbounded ranges."""
        from mongo_hadoop_spark.plans.splitters import shard_chunk_splitter
        from mongo_hadoop_spark.sources.live_read import (
            resolve_client_factory,
        )
        from mongo_hadoop_spark.sources.uri import MongoURI

        uri = self.options["uri"]
        parsed = MongoURI.parse(uri)
        client = resolve_client_factory(
            self.options.get("client_factory"))(uri)
        ns = f"{parsed.database}.{parsed.collection}"
        chunks = list(client["config"]["chunks"].find({"ns": ns}))
        if not chunks:
            # MongoDB 5.0+ keys config.chunks by collection uuid, not
            # ns: resolve the uuid through config.collections and retry
            # (SERVER-53105; pre-5.0 servers simply have no uuid row).
            coll = client["config"]["collections"].find_one({"_id": ns})
            uuid = coll.get("uuid") if coll else None
            if uuid is not None:
                chunks = list(
                    client["config"]["chunks"].find({"uuid": uuid}))
        if not chunks:
            raise ValueError(
                f"splitter=shard_chunk: no config.chunks entries for "
                f"{ns} by ns or by config.collections uuid — collection "
                f"not sharded, or the URI database/collection is wrong")

        from mongo_hadoop_spark import bsonio

        def bound(v):
            if isinstance(v, dict):
                if key not in v:
                    # silent None here would make every chunk an
                    # unbounded full scan → K-fold row duplication
                    raise ValueError(
                        f"splitter=shard_chunk: chunk bound {v!r} has no "
                        f"field {key!r} — set option('key', <shard key>)")
                v = v[key]
            if isinstance(v, (bsonio.MinKey, bsonio.MaxKey)):
                return None
            return v

        norm = [{"min": bound(c.get("min")), "max": bound(c.get("max")),
                 "shard": c.get("shard", "")} for c in chunks]
        # deterministic order: by the chunk's lower bound (None first)
        norm.sort(key=lambda c: (c["min"] is not None, c["min"], c["shard"]))
        shard_hosts = {}
        for s in client["config"]["shards"].find({}):
            # "rs0/h1:27017,h2:27017" or "h1:27017" host strings
            hosts = str(s.get("host", "")).split("/", 1)[-1]
            shard_hosts[s["_id"]] = [h.strip() for h in hosts.split(",")
                                     if h.strip()]
        return shard_chunk_splitter(norm, name, key=key,
                                    shard_locations=shard_hosts,
                                    query=query)

    def _docs(self, partition: _DocPartition):
        from mongo_hadoop_spark.sources.live_read import split_cursor

        return split_cursor(self._target(), partition.spec)


class PushdownDocumentReader(DocumentReader):
    """Catalyst filter pushdown (F5/F6): translated filters are AND'd with
    the static query; untranslatable filters stay residual (superset
    contract).  See DocumentReader docstring for the opt-in rationale."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        query, residual = translate_filters(filters)
        self.pushed_query = query
        return iter(residual)


class LivePushdownDocumentReader(LiveDocumentReader):
    """Live backend + Catalyst pushdown: pushed filters reach the server
    cursor (the HiveMongoInputFormat.java:129-182 analog, but against a
    real connection).  Same opt-in + fresh-load-per-query contract as
    :class:`PushdownDocumentReader`."""

    pushFilters = PushdownDocumentReader.pushFilters


class DocumentStreamReader(DataSourceStreamReader):
    """Structured-Streaming tail of a store collection — the engine's
    tailable-cursor/change-stream analog (the reference consumes live
    inserts through Flume's MongoDBSink, flume/src/.../MongoDBSink.java;
    here the read side is Spark-native: ``spark.readStream.format(
    "mongodoc")``).

    Offsets are the *sorted list of committed segment basenames* — the
    segment files are immutable once the writer's atomic rename commits
    them, so (a) a micro-batch is exactly the segments present in ``end``
    but not in ``start``, (b) replay after failure re-reads identical
    bytes (exactly-once with a checkpointed sink), and (c) discovering
    new data is one directory listing, independent of collection size.
    Each new segment becomes one input partition read on executors with
    the same decode → match(query) → project path as the batch reader.

    Contract: do not compact a collection while tailing it — compaction
    rewrites history into new segment names, which a tail would re-read
    (the same rule as Mongo's oplog: tailing assumes append-only).
    ``option("startingOffsets", "latest")`` skips existing segments.
    """

    def __init__(self, options, schema: StructType, *, arrow: bool = False):
        self._delegate = DocumentReader(options, schema, arrow=arrow)
        self.options = options
        colls = _collection_names(options)
        if len(colls) != 1:
            raise ValueError("streaming tail supports exactly one collection")
        self.collection = colls[0]

    def _segment_names(self) -> list[str]:
        import os as _os

        from mongo_hadoop_spark.store import DocumentStore

        coll = DocumentStore(self.options["path"]).collection(self.collection)
        if not coll.exists():
            return []
        return sorted(_os.path.basename(s) for s in coll.segments())

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        if self.options.get("startingOffsets") == "latest":
            return {"seen": self._segment_names()}
        return {"seen": []}

    def latestOffset(self) -> dict:  # noqa: N802
        return {"seen": self._segment_names()}

    def partitions(self, start: dict, end: dict):
        import os as _os

        new = sorted(set(end["seen"]) - set(start["seen"]))
        coll_dir = _os.path.join(self.options["path"], self.collection)
        specs = [
            SplitSpec(collection=self.collection,
                      query=self._delegate.static_query,
                      segment_path=_os.path.join(coll_dir, name))
            for name in new
        ]
        return self._delegate._with_cursor_options(specs)

    def read(self, partition):
        return self._delegate.read(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; segments are immutable

    def stop(self) -> None:
        pass


@dataclass
class _SegmentCommit(WriterCommitMessage):
    segments: list  # store.StagedSegment


class DocumentWriter(DataSourceArrowWriter):
    """Insert-mode writer with the reference's commit protocol (W1/W2):
    task → staged segment; job commit → publish (overwrite retires the
    segments listed at commit); abort → discard.  ``transform`` maps each
    document before it is written (``sinks.writers.journal_updates``)."""

    def __init__(self, options, schema: StructType, overwrite: bool,
                 transform=None):
        from mongo_hadoop_spark.store import DocumentCollection, _job_token

        self.options = options
        self.schema_ = schema
        self.overwrite = overwrite
        self.transform = transform
        self.coll = DocumentCollection(
            os.path.join(options["path"], options["collection"]))
        # optional codec (gzip/bz2): compressed segments are unsplittable
        # downstream (one task each) — the write-side of the codec rule
        codec = str(options.get("compression", "")).lower()
        self.ext = {"": "", "none": "", "gzip": ".gz", "bz2": ".bz2"}.get(codec)
        if self.ext is None:
            raise ValueError(f"unsupported compression {codec!r}")
        self.job = _job_token()  # temp-name token of this job

    def write(self, batches) -> _SegmentCommit:
        from mongo_hadoop_spark.sinks.writers import compile_docs

        to_docs = compile_docs(self.schema_)
        docs = (d for batch in batches for d in to_docs(batch))
        if self.transform is not None:
            docs = map(self.transform, docs)
        return _SegmentCommit(self.coll.stage(docs, self.job, ext=self.ext))

    def commit(self, messages) -> None:
        from mongo_hadoop_spark import bsonio
        from mongo_hadoop_spark.plans.splitters import DEFAULT_SPLIT_SIZE

        staged = [seg for m in messages if m is not None for seg in m.segments]
        self.coll.publish(
            staged, retire=self.coll.segments() if self.overwrite else ())
        self.coll.discard(self.job)  # files of failed task attempts
        if str(self.options.get("write_sidecar", "false")).lower() == "true":
            split_size = int(self.options.get("split_size", DEFAULT_SPLIT_SIZE))
            for seg in staged:
                if not bsonio.compression_codec(seg.final_path):
                    # W4: persist the doc-boundary splits beside the segment
                    # (BSONFileRecordWriter's .splits sidecar) so later
                    # readers skip the length-header walk
                    splits = bsonio.find_split_points(seg.final_path, split_size)
                    bsonio.write_splits_sidecar(seg.final_path, splits)

    def abort(self, messages) -> None:
        self.coll.discard(self.job)


@dataclass
class _LiveCommit(WriterCommitMessage):
    rows: int
    batches: int


class LiveDocumentWriter(DataSourceArrowWriter):
    """Insert writer against a live pymongo-protocol collection — the
    MongoRecordWriter shape (core/src/main/java/com/mongodb/hadoop/
    output/MongoRecordWriter.java:41-130): each task streams its rows as
    ordered ``insert_many`` batches of ``mongo.output.batch.size``
    (default 1000, MongoConfigUtil.java:635-647).

    Matches the reference's delivery contract exactly: batches commit on
    the server as the task runs, so a retried task re-inserts its rows —
    at-least-once, the documented MongoOutputFormat semantics (no
    job-level fence exists against a live server; the file-backed
    :class:`DocumentWriter` upgrades this to exactly-once via
    staged segments published at job commit when the destination is a
    store directory).
    """

    def __init__(self, options, schema: StructType):
        self.options = options
        self.schema_ = schema
        self.batch_size = int(options.get("batch_size", 1000))

    def write(self, batches) -> _LiveCommit:
        from mongo_hadoop_spark.sinks.writers import compile_docs
        from mongo_hadoop_spark.sources.live_read import collection_from_uri

        coll = collection_from_uri(self.options["uri"],
                                   self.options.get("client_factory"))
        to_docs = compile_docs(self.schema_)
        docs = (d for batch in batches for d in to_docs(batch))
        n = inserts = 0
        for chunk in _chunks(docs, self.batch_size):
            coll.insert_many(chunk, ordered=True)
            n += len(chunk)
            inserts += 1
        return _LiveCommit(n, inserts)

    def commit(self, messages) -> None:
        pass  # batches already landed per task (reference semantics)

    def abort(self, messages) -> None:
        pass  # at-least-once: no server-side undo exists


def _collection_names(options) -> list[str]:
    """The ``collection`` option: comma-separated names, blanks dropped."""
    names = options.get("collection")
    if not names:
        raise ValueError("option 'collection' is required")
    return [c.strip() for c in names.split(",") if c.strip()]


def _chunks(items, n: int):
    """Lists of up to ``n`` consecutive items."""
    import itertools

    it = iter(items)
    while chunk := list(itertools.islice(it, n)):
        yield chunk


def _decode_fields(spec: SplitSpec, row_fields: set[str] | None) -> set[str] | None:
    """Top-level fields a split must decode: those its rows read, the
    roots of its query paths and of its sort keys.  Projection needs no
    entry of its own: it passes each field it keeps (or trims, with
    $slice/$elemMatch) on under the same top-level name, so any field the
    converter can see is already a row field.  None decodes all."""
    query_fields = query_roots(spec.query)
    if row_fields is None or query_fields is None:
        return None
    sort_fields = {key.split(".", 1)[0] for key, _ in spec.sort or ()}
    return row_fields | query_fields | sort_fields


def _pack_byte_ranges(parts: list[_DocPartition],
                      split_size: int) -> list[_DocPartition]:
    """Pack runs of consecutive byte-range splits into one partition each,
    until the next split would take it past ``split_size`` bytes — every
    Python task has a fixed cost, so small segments should share one, as
    Spark's file sources pack small files.  Compressed (whole-file) and
    query-range splits stay one per partition."""
    packed: list[_DocPartition] = []
    room = 0  # bytes the last packed partition can still take
    for part in parts:
        length = part.spec.byte_length
        if part.spec.segment_path is None or length is None:
            packed.append(part)
            room = 0
        elif length <= room:
            packed[-1] = _DocPartition(packed[-1].specs + part.specs)
            room -= length
        else:
            packed.append(part)
            room = split_size - length
    return packed


def _apply_cursor_options(docs: list, spec) -> list:
    """sort → skip → limit → project, in the reference's cursor order."""
    from mongo_hadoop_spark.plans.filters import bson_compare, project
    from mongo_hadoop_spark.plans.paths import get_path

    if spec.sort:
        import functools
        for key, direction in reversed(list(spec.sort)):
            docs = sorted(
                docs,
                key=functools.cmp_to_key(
                    lambda a, b, k=key: bson_compare(get_path(a, k), get_path(b, k))
                ),
                reverse=direction < 0,
            )
    if spec.skip:
        docs = docs[spec.skip:]
    if spec.limit is not None:
        docs = docs[: spec.limit]
    if spec.projection:
        docs = [project(d, spec.projection) for d in docs]
    return docs

