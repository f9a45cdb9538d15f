"""Resumable partitioned runs with per-bucket lineage + metrics.

North-rule requirement: "resumable from per-partition checkpoints with lineage
and row-count/throughput metrics written per snapshot".  Probe keys are hashed
into ``n_buckets`` stable buckets; each bucket is computed and committed
independently (parquet directory partition + a JSON manifest entry with row
count, wall time, and the feature-spec JSON).  A re-run skips committed
buckets — crash anywhere and only the in-flight bucket repeats.

On an Iceberg deployment the bucket column maps to a ``bucket(N, doc_id)``
partition transform and the manifest entries to snapshot summary properties;
this container has no Iceberg runtime, so plain parquet + JSON carries the
same contract (documented divergence).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["CheckpointedRun"]


class CheckpointedRun:
    def __init__(self, output_path: str, key_col: str, n_buckets: int = 16,
                 spec_json: Optional[str] = None):
        scheme = output_path.split("://", 1)[0] if "://" in output_path \
            else ""
        self._spark_prefix = ""
        if scheme == "file":
            # manifest I/O uses plain os.path/open: keep the posix path so
            # Python and Spark agree on where the run lives ('file:///x'
            # would otherwise become a literal './file:/x' manifest dir);
            # Spark writes keep the explicit file:// scheme so the local-FS
            # intent survives on deployments where fs.defaultFS is not local
            from urllib.parse import urlparse
            parsed = urlparse(output_path)
            if parsed.netloc:
                # 'file://home/user/out' parses as netloc='home',
                # path='/user/out' — silently using the path would drop the
                # first component; the only valid local form is file:///abs
                raise ValueError(
                    f"malformed file:// URI {output_path!r}: a file URI "
                    "needs an empty authority (file:///abs/path)")
            output_path = parsed.path
            self._spark_prefix = "file://"
        elif scheme:
            # the manifest (and rmtree on restart) use local-fs I/O in this
            # container; on a lake deployment the bucket column maps to an
            # Iceberg bucket transform and the manifest to snapshot summary
            # properties (module docstring) — reject object-store URIs
            # instead of silently writing the manifest somewhere useless
            raise ValueError(
                f"output_path scheme {scheme!r} unsupported: point the "
                "checkpointed run at a posix/shared-fs path (object-store "
                "deployments use the Iceberg snapshot analog)")
        self.output_path = output_path
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.spec_json = spec_json
        self.manifest_path = os.path.join(output_path, "_manifest.jsonl")

    # ---- manifest ----------------------------------------------------------

    def completed_buckets(self) -> List[int]:
        if not os.path.exists(self.manifest_path):
            return []
        done = []
        with open(self.manifest_path) as f:
            for line in f:
                # a crash mid-append can leave a truncated trailing line;
                # treat it as "bucket not committed" (it re-runs) instead of
                # poisoning every later resume with JSONDecodeError
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("status") == "committed":
                    done.append(e["bucket"])
        return sorted(set(done))

    def _commit(self, bucket: int, rows: int, seconds: float):
        os.makedirs(self.output_path, exist_ok=True)
        entry = {
            "status": "committed", "bucket": bucket, "rows": rows,
            "n_buckets": self.n_buckets,
            "seconds": round(seconds, 3),
            "rows_per_sec": round(rows / seconds, 1) if seconds > 0 else None,
            "ts": time.time(), "spec": self.spec_json, "key": self.key_col,
        }
        # if a previous append was torn (no trailing newline), start on a
        # fresh line so the torn fragment poisons only ITS OWN entry
        prefix = ""
        if os.path.exists(self.manifest_path) \
                and os.path.getsize(self.manifest_path) > 0:
            with open(self.manifest_path, "rb") as rf:
                rf.seek(-1, os.SEEK_END)
                if rf.read(1) != b"\n":
                    prefix = "\n"
        with open(self.manifest_path, "a") as f:
            f.write(prefix + json.dumps(entry) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # ---- execution ---------------------------------------------------------

    def _check_manifest_compatible(self):
        """A resume with a different bucket count or feature spec would
        silently drop/duplicate probes or mix schemas between buckets —
        refuse instead."""
        if not os.path.exists(self.manifest_path):
            return
        with open(self.manifest_path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("n_buckets") is not None \
                        and e["n_buckets"] != self.n_buckets:
                    raise ValueError(
                        f"manifest was written with n_buckets="
                        f"{e['n_buckets']}, refusing to resume with "
                        f"{self.n_buckets} (bucket ids would not match)")
                if e.get("spec") != self.spec_json:
                    # None vs non-None is ALSO a mismatch: skipping the
                    # check when either side is absent would let buckets
                    # computed under different feature specs interleave
                    raise ValueError(
                        "manifest was written with a different feature "
                        "spec (or one side has none recorded); resuming "
                        "would mix output schemas — use a fresh output "
                        "path")
                return

    def bucket_col(self):
        return F.pmod(F.xxhash64(F.col(self.key_col)),
                      F.lit(self.n_buckets)).cast("int")

    def run(self, probes: DataFrame,
            compute: Callable[[DataFrame], DataFrame]) -> List[int]:
        """Run ``compute`` over each not-yet-committed probe bucket; returns
        the buckets executed this call.  ``compute`` receives the bucket's
        probe subset and must return the finished DataFrame to persist."""
        self._check_manifest_compatible()
        done = set(self.completed_buckets())
        tagged = probes.withColumn("_bucket", self.bucket_col())
        executed = []
        for b in range(self.n_buckets):
            if b in done:
                continue
            subset = tagged.filter(F.col("_bucket") == b).drop("_bucket")
            t0 = time.perf_counter()
            out = compute(subset)
            bpath = os.path.join(self.output_path, f"bucket={b}")
            out.write.mode("overwrite").parquet(self._spark_prefix + bpath)
            self._commit(b, self._parquet_rows(bpath),
                         time.perf_counter() - t0)
            executed.append(b)
        return executed

    @staticmethod
    def _part_files(path: str) -> List[str]:
        """Data files of a written parquet directory: Spark's
        ``_``/``.``-prefixed side files (``_SUCCESS``, checksums) are not
        data."""
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if not f.startswith(("_", ".")))

    @classmethod
    def _parquet_rows(cls, path: str) -> int:
        """Rows of a written parquet directory, summed from the part files'
        footers — no Spark job re-reads what was just written."""
        import pyarrow.parquet as pq
        return sum(pq.read_metadata(f).num_rows
                   for f in cls._part_files(path))

    def read(self, spark: SparkSession) -> DataFrame:
        import pyarrow.parquet as pq
        done = self.completed_buckets()
        if not done:
            # spark.read.parquet() with zero paths raises an unrelated
            # schema-inference error — name the real cause
            raise ValueError(
                f"no committed buckets under {self.output_path!r} "
                "(fresh run, or crashed before the first commit)")
        bpaths = [os.path.join(self.output_path, f"bucket={b}")
                  for b in done]
        # Spark writes its schema into every part file's footer (an empty
        # bucket still gets one schema-only file), so the reader needs no
        # schema-inference job over the buckets
        meta = pq.read_metadata(self._part_files(bpaths[0])[0]).metadata
        schema = T.StructType.fromJson(json.loads(
            meta[b"org.apache.spark.sql.parquet.row.metadata"]))
        return spark.read.schema(schema).parquet(
            *(self._spark_prefix + p for p in bpaths))
