from .tables import TABLES, load_table, normalize_event_time

__all__ = ["TABLES", "load_table", "normalize_event_time"]
