"""Self-test: the output checks pass on a good table and fail on corrupted ones.

Builds a small compacted table, confirms every check passes, then damages a
copy of one bucket's base file in three ways and confirms the checks catch
each: one live row's text altered, one deleted url's tombstone turned back
into a live row, and one live row written twice (the duplicate winner a
faulty merge-on-read collapse would leave; that url is not a lookup probe,
so only the row-count check of ``read()`` can see it).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from checks import check_lookup, check_read_since, check_state, lookup_rows


def _all_checks(table, feed, probes) -> list[str]:
    probs = check_state(table, feed) + check_read_since(table, feed)
    for url, kind in probes:
        probs += check_lookup(url, kind, lookup_rows(table.lookup([url])), feed)
    return probs


def _rewrite_row(table, url: str, edit) -> None:
    """Rewrite the base file holding ``url`` with ``edit(tbl, row_index)``."""
    for es in table.all_entries(table.current()).values():
        for e in es:
            path = os.path.join(table.root, e["path"])
            tbl = pq.read_table(path)
            hits = pc.equal(tbl.column("url"), url).to_numpy(zero_copy_only=False)
            if hits.any():
                pq.write_table(edit(tbl, int(hits.argmax())), path)
                crc = os.path.join(os.path.dirname(path),
                                   f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):  # Hadoop would reject the new bytes
                    os.remove(crc)
                return
    raise LookupError(url)


def _set(tbl: pa.Table, col: str, i: int, value) -> pa.Table:
    vals = tbl.column(col).to_pylist()
    vals[i] = value
    idx = tbl.schema.get_field_index(col)
    return tbl.set_column(idx, tbl.schema.field(idx), pa.array(vals, tbl.schema.field(idx).type))


def run(spark, work: str) -> int:
    from data_pipeline_spark import pipeline

    feed = gen.generate(gen.Spec(n_events=3_000, n_urls=600, n_hot=4,
                                 hot_share=0.3, delete_share=0.1), seed=5)
    wal = os.path.join(work, "wal")
    gen.write_segments(feed, wal, 2)
    root = os.path.join(work, "clean")
    table = pipeline.ensure_table(spark, root, 4)
    pipeline.apply_batch(table, spark.read.parquet(wal), "all")
    table.compact("c")
    live = sorted(feed.expected)[0]
    dead = sorted(feed.deleted)[0]
    probes = [(live, "live"), (dead, "deleted")]

    clean = _all_checks(table, feed, probes)
    print(f"clean table: {len(clean)} problems {clean}")

    from data_pipeline_spark.lake.table import LakeTable

    def corrupted(name, url, edit) -> list[str]:
        dst = os.path.join(work, name)
        shutil.copytree(root, dst)
        t = LakeTable(spark, dst)
        _rewrite_row(t, url, edit)
        probs = _all_checks(t, feed, probes)
        print(f"{name}: {len(probs)} problems, e.g. {probs[:2]}")
        return probs

    altered = corrupted("altered_text", live,
                        lambda t, i: _set(t, "text", i, "tampered"))
    revived = corrupted("deleted_url_present", dead,
                        lambda t, i: _set(_set(t, "__deleted", i, False),
                                          "text", i, "back"))
    duplicated = corrupted("duplicated_row", sorted(feed.expected)[1],
                           lambda t, i: pa.concat_tables([t, t.slice(i, 1)]))
    ok = not clean and bool(altered) and bool(revived) and bool(duplicated)
    print("SELF-TEST", "PASSED" if ok else "FAILED")
    return 0 if ok else 1
