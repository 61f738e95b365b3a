"""Scans: the star schema table names, the screen fixture generators and
driver-side rows as local relations."""
