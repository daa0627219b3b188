"""Sources: pages table IO, dimension tables, snapshot catalog shim."""
