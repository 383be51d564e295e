"""The storage-format seam: ``tables.read_path`` / ``tables.write_table``."""
