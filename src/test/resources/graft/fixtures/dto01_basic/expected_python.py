from dataclasses import dataclass, field
from typing import Optional, Any

@dataclass
class RecordUser:
    id: int
    email: Optional[str] = None

@dataclass
class Record:
    id: int
    price: float
    active: bool
    user: RecordUser
    # json: "display-name"
    display_name: str = field(metadata={"json_key": "display-name"})
    name: Optional[str] = None
    tags: Optional[Any] = None
