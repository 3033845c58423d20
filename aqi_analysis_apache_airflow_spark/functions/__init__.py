from .scalar import aqi_category

__all__ = ["aqi_category"]
