from .tables import TABLES, load_table, load_tables, normalize_event_time

__all__ = ["TABLES", "load_table", "load_tables", "normalize_event_time"]
