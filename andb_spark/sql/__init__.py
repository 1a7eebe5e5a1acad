"""SQL front end: literal-aware text scans (``scan``) and the DuckDB
dialect normalization (``dialect``) — pure text → text, no engine
state and no Spark session."""
