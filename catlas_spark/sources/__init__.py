"""Scans: the star schema table names and the screen fixture generators."""
