"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API):
GeoJSON-lines as a first-class `spark.read.format(...)` source.

Why this exists next to geoio.read_geojsonl: read_geojsonl is the FAST
path (spark.read.text splits files by line ranges, JSON extraction and
from_json stay in WholeStageCodegen, one Arrow-batched geometry
kernel). This module demonstrates the other integration surface the
engine offers — the DataSource V2 Python API — for formats Spark has
no reader for at all: schema declaration from options, partition
planning (one InputPartition per file, so parallelism = file count —
a production source would plan byte-range splits), and a per-partition
Python generator. Per-row Python is the honest cost of that
flexibility; anything expressible as text + JSON expressions should
use the geoio path.

The round-trip query gates this against the SAME oracle as
geojsonl_roundtrip — both readers must produce identical rows from
identical files.
"""

from __future__ import annotations

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, InputPartition,
                                    WriterCommitMessage)

__all__ = ["GeoJsonLinesDataSource"]


class GeoJsonLinesDataSource(DataSource):
    """`format("geojsonl_py")`: each line an RFC 7946 Feature (or bare
    geometry). Options: ``path`` (directory of part files) and
    ``properties_schema`` (DDL for typed property columns, e.g.
    ``"name string, pop long"``). Output schema = properties columns
    then ``geom binary`` (canonical EWKB)."""

    @classmethod
    def name(cls) -> str:
        return "geojsonl_py"

    def schema(self) -> str:
        props = self.options.get("properties_schema", "")
        return (props + ", geom binary") if props else "geom binary"

    def reader(self, schema) -> "GeoJsonLinesReader":
        return GeoJsonLinesReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> "GeoJsonLinesWriter":
        return GeoJsonLinesWriter(self.options, schema, overwrite)


class GeoJsonLinesReader(DataSourceReader):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.schema = schema

    def partitions(self):
        # one partition per sink part file; _SUCCESS / .crc excluded by
        # the part-* glob (dotfiles don't match)
        import glob
        import os
        files = sorted(glob.glob(os.path.join(self.path, "part-*")))
        if not files:  # bare-file path (no directory of parts)
            files = [self.path]
        return [InputPartition(f) for f in files]

    def read(self, partition):
        import json

        from ..geo.geojson import from_geojson
        from ..geo.wkb import to_wkb

        prop_fields = [f.name for f in self.schema.fields
                       if f.name != "geom"]
        with open(partition.value, "r", encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                obj = json.loads(line)
                if obj.get("type") == "Feature":
                    geo, props = obj.get("geometry"), \
                        obj.get("properties") or {}
                else:
                    geo, props = obj, {}
                wkb = None if geo is None \
                    else to_wkb(from_geojson(json.dumps(geo)))
                yield tuple(props.get(n) for n in prop_fields) + (wkb,)


class GeoJsonPartCommit(WriterCommitMessage):
    """Per-task commit message: which file landed, how many rows."""

    def __init__(self, file: str, rows: int):
        self.file = file
        self.rows = rows


class GeoJsonLinesWriter(DataSourceWriter):
    """The sink direction of the same API: each task serializes its
    partition to one part file (Feature per line — geometry via the
    repo's single GeoJSON serializer, every non-geom column into
    ``properties``). ``overwrite`` clears existing part files on the
    DRIVER before tasks launch (the one driver-side step, O(files));
    commit messages carry (file, row count) back for the driver-side
    commit, mirroring how a real transactional sink would publish a
    manifest. Gated by a round-trip through the JVM fast-path reader
    against the same oracle as the Python reader."""

    def __init__(self, options, schema, overwrite: bool):
        import glob
        import os
        self.path = options["path"]
        self.schema = schema
        os.makedirs(self.path, exist_ok=True)
        if overwrite:
            for f in glob.glob(os.path.join(self.path, "part-*")):
                os.remove(f)

    def write(self, iterator) -> WriterCommitMessage:
        import json
        import os
        import uuid

        from ..geo.geojson import to_geojson
        from ..geo.wkb import from_wkb

        prop_fields = [f.name for f in self.schema.fields
                       if f.name != "geom"]
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(out, "w", encoding="utf-8") as fh:
            for row in iterator:
                geom = row["geom"]
                gj = "null" if geom is None else to_geojson(from_wkb(geom))
                props = json.dumps({k: row[k] for k in prop_fields},
                                   separators=(",", ":"))
                fh.write('{"type":"Feature","geometry":%s,'
                         '"properties":%s}\n' % (gj, props))
                n += 1
        return GeoJsonPartCommit(out, n)
