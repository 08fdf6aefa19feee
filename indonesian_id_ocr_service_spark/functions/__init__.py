"""Column-expression libraries and the extraction kernel's Python tiers."""
