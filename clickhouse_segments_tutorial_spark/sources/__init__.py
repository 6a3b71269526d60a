from .bucketed import (
    append_tombstones,
    clear_tombstones,
    compact_bucketed,
    heal_bucketed_from_pins,
    read_tombstones,
    newest_valid_pin,
    read_table,
    resolve_wave_counter,
    state_table_prefix,
    write_bucketed,
)
from .catalog import Catalog, load_table, read_parquet
from .database import SegmentDatabase
from .json_ingest import read_json_rows
from .zorder import append_zordered, zorder_key

__all__ = [
    "Catalog",
    "SegmentDatabase",
    "append_tombstones",
    "clear_tombstones",
    "compact_bucketed",
    "heal_bucketed_from_pins",
    "read_tombstones",
    "load_table",
    "newest_valid_pin",
    "read_json_rows",
    "read_parquet",
    "read_table",
    "resolve_wave_counter",
    "state_table_prefix",
    "write_bucketed",
    "append_zordered",
    "zorder_key",
]
