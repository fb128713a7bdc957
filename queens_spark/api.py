"""Query service + HTTP surface.

The service layer is plain Python (fully testable without a web
stack) and reproduces the reference API's contract exactly
(queens/api/app.py:42-185): route validation → staged-table probe →
JSON filter parse → query → page + next_cursor, with the error
taxonomy mapped to HTTP statuses:

    unknown collection/table → 404
    malformed filter JSON    → 400
    KeyError/NameError/ValueError/TypeError (DSL validation) → 422

``create_app`` wraps the service in FastAPI when it is installed
(gated import — keeps the engine usable in slim runtimes).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from queens_spark.facade import Engine
from queens_spark.settings import DEFAULT_LIMIT


@dataclass
class ServiceResponse:
    status: int
    body: dict[str, Any] = field(default_factory=dict)


class QueryService:
    def __init__(self, engine: Engine):
        self.engine = engine

    def get_data(
        self,
        collection: str,
        table_name: str,
        filters: str | dict | None = None,
        limit: int = DEFAULT_LIMIT,
        cursor: int | None = None,
    ) -> ServiceResponse:
        if collection not in self.engine.schemas:
            return ServiceResponse(404, {"detail": f"unknown collection '{collection}'"})
        queryable = self.engine.warehouse.queryable_columns(collection, table_name)
        if not queryable:
            return ServiceResponse(
                404, {"detail": f"table '{table_name}' is not staged"}
            )
        if isinstance(filters, str):
            try:
                filters = json.loads(filters) if filters else None
            except json.JSONDecodeError as exc:
                return ServiceResponse(400, {"detail": f"malformed filters JSON: {exc}"})
        try:
            records, next_cursor = self.engine.query_page(
                collection, table_name, filters, limit=limit, cursor=cursor,
                queryable=queryable,
            )
        except (KeyError, NameError, ValueError, TypeError) as exc:
            return ServiceResponse(422, {"detail": str(exc)})
        return ServiceResponse(
            200,
            {
                "data_collection": collection,
                "table_name": table_name,
                "table_description": self.engine.table_description(
                    collection, table_name
                ),
                "n_rows": len(records),
                "next_cursor": next_cursor,
                "data": records,
            },
        )

    def get_metadata(self, collection: str, table_name: str | None = None) -> ServiceResponse:
        if collection not in self.engine.schemas:
            return ServiceResponse(404, {"detail": f"unknown collection '{collection}'"})
        rows = [r.asDict() for r in self.engine.get_metadata(collection, table_name).collect()]
        if table_name and not rows:
            return ServiceResponse(404, {"detail": f"table '{table_name}' is not staged"})
        return ServiceResponse(200, {"metadata": rows})

    def get_versions(self, collection: str, table_name: str | None = None) -> ServiceResponse:
        if collection not in self.engine.schemas:
            return ServiceResponse(404, {"detail": f"unknown collection '{collection}'"})
        rows = [r.asDict() for r in self.engine.get_versions(collection, table_name).collect()]
        for r in rows:
            ts = r.get("ingest_ts")
            if ts is not None:
                r["ingest_ts"] = ts.isoformat()
        return ServiceResponse(200, {"versions": rows})


def create_app(engine: Engine):
    """FastAPI wrapper (optional dependency)."""
    try:
        from fastapi import FastAPI, Query, Response
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "the HTTP surface requires fastapi, which is not installed; "
            "use QueryService directly"
        ) from exc

    service = QueryService(engine)
    app = FastAPI(title="queens_spark", version="0.1.0")

    def _respond(resp: ServiceResponse, response: Response):
        response.status_code = resp.status
        return resp.body

    @app.get("/data/{collection}")
    def data(
        collection: str,
        response: Response,
        table_name: str = Query(...),
        filters: str | None = Query(None),
        limit: int = Query(DEFAULT_LIMIT),
        cursor: int | None = Query(None),
    ):
        return _respond(
            service.get_data(collection, table_name, filters, limit, cursor), response
        )

    @app.get("/metadata/{collection}")
    def metadata(collection: str, response: Response,
                 table_name: str | None = Query(None)):
        return _respond(service.get_metadata(collection, table_name), response)

    @app.get("/versions/{collection}")
    def versions(collection: str, response: Response,
                 table_name: str | None = Query(None)):
        return _respond(service.get_versions(collection, table_name), response)

    return app
