"""The persistent index store shared by delta admission and the stream.

pcompress's pipe and archive modes probe and extend one persistent global
index (rabin/global/index.c:140-151, 485-558). Here each table of that
index is a root dir of ``<key>=<name>`` unit dirs: ``batch=N`` per stream
micro-batch (streaming/dedup_stream.py), ``run=<tag>`` per admitted delta
(tools/run_incremental.py). This module owns the one protocol both keep:

- **append** writes a unit (a replay overwrites its own unit);
- **compaction** (quiesced) merges every unit into one ``<key>=c<G>`` dir:
  the merge goes to a hidden tmp dir, then the names of the units it
  merged go into the tmp as ``_units.json`` — the completion marker —
  then exactly the listed units are deleted and the tmp is renamed;
- **listing** first finishes a marked tmp that way and discards an
  unmarked one, its units untouched, so no caller sees a half compaction;
- **replay check**: a unit is compacted when a compacted dir's list names
  it. Each list carries forward the lists it merged;
- **label units** (append_labels, read_labels): a label store's unit
  holds only the rows the label core changed, and an id's current label
  is the min cluster_id over its rows. The stream and the CLI both keep
  their labels this way.

Every file operation is on the Hadoop FileSystem API, so a store may live
on HDFS or S3A as well as on a ``file:`` path."""

from __future__ import annotations

import json

UNITS = "_units.json"
# hidden ('.'-prefixed) from parquet reads of the root; the trailing
# integer is the generation the tmp becomes
_TMP = ".merge_tmp_c"
# tmp dirs of the older layout, marked complete by parquet's _SUCCESS
# alone: which of their units were merged cannot be told
_OLD_TMPS = ("_compact_tmp_c", ".compact_tmp_c")


def _fs(spark, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _is_compacted(name: str) -> bool:
    return name.startswith("c") and name[1:].isdigit()


def _old_layout(path: str) -> str:
    return (f"{path} is from the older store layout, whose compactions kept "
            f"no unit list ({UNITS}), so which units they merged cannot be "
            "told; rebuild the store in a new directory")


def _read_units(spark, d: str) -> set | None:
    """The unit list in dir ``d``, or None if it has none."""
    fs, hpath = _fs(spark, d)
    if not fs.exists(hpath(f"{d}/{UNITS}")):
        return None
    stream = fs.open(hpath(f"{d}/{UNITS}"))
    try:
        # commons-io rides Spark's classpath; a py4j-side read loop can't
        # see Java's mutations of a passed buffer (pass-by-value)
        return set(json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")))
    finally:
        stream.close()


def _finish(spark, tmp: str, dst: str, victims) -> None:
    """Delete ``victims`` (absent ones are skipped), rename the marked
    ``tmp`` to ``dst``."""
    fs, hpath = _fs(spark, tmp)
    for v in victims:
        fs.delete(hpath(v), True)
    if not fs.rename(hpath(tmp), hpath(dst)):
        raise IOError(f"rename failed: {tmp} -> {dst}")


def listing(spark, root: str, key: str) -> tuple[list[tuple[str, str]], set]:
    """([(unit name, dir path)] of the ``<key>=<name>`` dirs under
    ``root``, the unit names its compacted dirs list), after finishing or
    discarding an interrupted compaction. Raises ValueError, before any
    write, on a store of the older layout."""
    root = root.rstrip("/")
    fs, hpath = _fs(spark, root)

    def scan():
        units, tmps = [], []
        if not fs.exists(hpath(root)):
            return units, tmps, set()
        for st in fs.listStatus(hpath(root)):
            name, path = st.getPath().getName(), str(st.getPath())
            if name.startswith(_OLD_TMPS):
                raise ValueError(_old_layout(path))
            if name.startswith(key + "="):
                units.append((name[len(key) + 1:], path))
            elif name.startswith(_TMP):
                tmps.append((name[len(_TMP):], path))
        lists = [(p, _read_units(spark, p)) for n, p in units if _is_compacted(n)]
        for p, names in lists:
            if names is None:
                raise ValueError(_old_layout(p))
        return units, tmps, set().union(*(names for _, names in lists))

    units, tmps, compacted = scan()
    for gen, tmp in tmps:
        merged = _read_units(spark, tmp)
        if merged is None:
            fs.delete(hpath(tmp), True)
        else:
            _finish(spark, tmp, f"{root}/{key}=c{gen}",
                    [f"{root}/{key}={n}" for n in merged])
    if tmps:
        units, _, compacted = scan()
    return units, compacted


def append(df, root: str, key: str, name) -> str:
    """Write ``df`` as unit ``name``; returns the unit's dir path."""
    path = f"{root.rstrip('/')}/{key}={name}"
    df.write.mode("overwrite").parquet(path)
    return path


def remove(spark, root: str, key: str, name) -> None:
    """Delete unit ``name``, if it exists."""
    path = f"{root.rstrip('/')}/{key}={name}"
    fs, hpath = _fs(spark, path)
    fs.delete(hpath(path), True)


def compact(spark, root: str, key: str, exclude: str | None = None) -> dict:
    """Merge every unit under ``root`` except ``exclude`` into one
    ``<key>=c<G>`` dir. Returns {"merged_runs": n} and, if n > 1, "gen"."""
    root = root.rstrip("/")
    units, compacted = listing(spark, root, key)
    units = [(n, p) for n, p in units if n != exclude]
    if len(units) <= 1:
        return {"merged_runs": 0}
    gen = 1 + max((int(n[1:]) for n, _ in units if _is_compacted(n)), default=0)
    tmp = f"{root}/{_TMP}{gen}"
    spark.read.parquet(*[p for _, p in units]).write.mode("overwrite").parquet(tmp)
    # the unit list goes in last: it is the completion marker
    fs, hpath = _fs(spark, tmp)
    out = fs.create(hpath(f"{tmp}/{UNITS}"), True)
    try:
        out.write(json.dumps(sorted(compacted | {n for n, _ in units})).encode())
    finally:
        out.close()
    _finish(spark, tmp, f"{root}/{key}=c{gen}", [p for _, p in units])
    return {"merged_runs": len(units), "gen": gen}


def append_labels(spark, root: str, key: str, name, edges, delta_ids, cfg,
                  id_col: str = "conv_id", listed=None,
                  stats: dict | None = None) -> None:
    """Append unit ``name`` of a label store: the rows the label core
    (functions.incremental._clusters_core) changes when evidence ``edges``
    (conv_id_a, conv_id_b) and the ids of ``delta_ids`` (column
    ``id_col``) merge into the store's rows (``id_col``, cluster_id).
    The core reads every unit but ``name``'s own raw, stale rows included,
    so a replay merges into the state its first attempt saw. Only changed
    rows are written, so a unit is O(delta + touched members). Nothing is
    written when a compacted dir's list already names ``name``.
    ``listed``: the store's listing, if the caller already took it;
    ``stats``: the core's path record."""
    from pyspark.sql import functions as F

    from .functions.incremental import _clusters_core

    units, compacted = listed or listing(spark, root, key)
    if str(name) in compacted:
        return
    prior = [p for n, p in units if n != str(name)]
    t = delta_ids.schema[id_col].dataType.simpleString()
    labels = (spark.read.parquet(*prior).select(
                  F.col(id_col).alias("conv_id"), "cluster_id") if prior
              else spark.createDataFrame([], f"conv_id {t}, cluster_id {t}"))
    changed, _ = _clusters_core(
        labels, edges.select("conv_id_a", "conv_id_b"),
        delta_ids.select(F.col(id_col).alias("conv_id")), cfg,
        {} if stats is None else stats)
    append(changed.withColumnRenamed("conv_id", id_col), root, key, name)


def read_labels(spark, root: str, key: str, id_col: str = "conv_id"):
    """The current assignment (``id_col``, cluster_id) of a label store:
    the min cluster_id over each id's rows. A label only ever falls
    (components only merge, and the label is the component's min id), so
    no ordering column is needed. An empty store reads as an empty frame
    of string ids."""
    from pyspark.sql import functions as F

    units, _ = listing(spark, root, key)
    if not units:
        return spark.createDataFrame([], f"{id_col} string, cluster_id string")
    return spark.read.parquet(*[p for _, p in units]).groupBy(id_col).agg(
        F.min("cluster_id").alias("cluster_id"))


def refuse_old_state(spark, state_dir: str) -> None:
    """Raise ValueError on a CLI state dir of an older layout: one
    compacted by the older CLI, which kept a ``_compacted_tags.json`` tag
    manifest beside the tables; one whose ``labels/`` is a bare table
    (files directly under it, no ``run=`` units) or has a ``labels._tmp``
    beside it, from when each run replaced the whole labels table; or a
    document state with ``bands/`` and ``md5/`` tables, whose ``sig/``
    rows lack the ``band_hashes`` and ``content_md5`` columns that
    replaced both."""
    sd = state_dir.rstrip("/")
    fs, hpath = _fs(spark, sd)
    if fs.exists(hpath(f"{sd}/_compacted_tags.json")):
        raise ValueError(_old_layout(f"{sd}/_compacted_tags.json"))
    labels = f"{sd}/labels"
    if fs.exists(hpath(labels + "._tmp")) or (fs.exists(hpath(labels)) and any(
            st.isFile() for st in fs.listStatus(hpath(labels)))):
        raise ValueError(
            f"{labels} is from the older state layout, which replaced one "
            "full labels table per run; the labels store now keeps run=<tag> "
            "units of changed rows, so bootstrap the state again in a new "
            "directory")
    for table in ("bands", "md5"):
        if fs.exists(hpath(f"{sd}/{table}")):
            raise ValueError(
                f"{sd}/{table} is from the older document state layout, which "
                "kept separate band and md5 tables; the sig/ table's "
                "band_hashes and content_md5 columns replaced them, and its "
                "older rows lack both, so bootstrap the state again in a new "
                "directory")
