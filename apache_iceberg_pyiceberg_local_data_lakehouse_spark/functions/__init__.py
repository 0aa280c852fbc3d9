"""Column functions shared by the ingest path."""


def quote_ident(name: str) -> str:
    """``name`` as a backticked SQL identifier, any backtick inside it
    doubled: the one quoting every SQL-text projection (``selectExpr``,
    ``F.expr``) on the ingest path uses, so column names holding a
    space, a dot or a backtick resolve as the single column they name."""
    return "`" + name.replace("`", "``") + "`"
